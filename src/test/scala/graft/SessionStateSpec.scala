package graft

import graft.SessionState.key
import graft.operators.TextAnalysis

class SessionStateSpec extends SparkSpec {

  private def scoped(dir: String): Seq[SessionState.Entry] =
    SessionState.entries.filter(e =>
      e.scope == dir || e.scope.startsWith(dir + "/"))

  test("a build that calls another build completes") {
    val outer = key("spec.outer", "/spec/registry/nested")
    val inner = key("spec.inner", "/spec/registry/nested")
    val got = SessionState.getOrBuild(outer) {
      SessionState.getOrBuild(inner)("in") + "+out"
    }
    assert(got == "in+out")
    assert(SessionState.get[String](inner).contains("in"))
    assert(SessionState.get[String](outer).contains("in+out"))
  }

  test("a build that throws leaves no entry, and the next call rebuilds") {
    val k = key("spec.throws", "/spec/registry/throws")
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    intercept[IllegalStateException] {
      SessionState.getOrBuild(k) {
        builds.incrementAndGet()
        throw new IllegalStateException("boom")
      }
    }
    assert(SessionState.get[String](k).isEmpty)
    assert(scoped("/spec/registry/throws").isEmpty)
    assert(SessionState.getOrBuild(k) { builds.incrementAndGet(); "ok" } == "ok")
    assert(builds.get == 2)
  }

  test("two threads asking for one key build it once") {
    val k = key("spec.once", "/spec/registry/once")
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map(_ => pool.submit(() => {
        start.await()
        SessionState.getOrBuild(k) {
          builds.incrementAndGet()
          Thread.sleep(200)
          new Object
        }
      }))
      start.countDown()
      val got = futures.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
    } finally pool.shutdownNow()
  }

  test("a catalog-backed entry from another session is rebuilt, not served") {
    val other = spark.newSession()
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def lookup(s: org.apache.spark.sql.SparkSession) =
      SessionState.getOrBuild(key("spec.catalog", "/spec/registry/catalog",
          org.apache.spark.sql.graftbridge.Bridge.sessionId(s))) {
        s"table_${builds.incrementAndGet()}"
      }
    assert(lookup(spark) == "table_1")
    assert(lookup(spark) == "table_1")
    assert(lookup(other) == "table_2")
    assert(lookup(spark) == "table_1")
  }

  test("invalidatePath drops its scope and everything under it, nothing else") {
    SessionState.put(key("spec.scope", "/spec/registry/sf1"), "a")
    SessionState.put(key("spec.scope", "/spec/registry/sf1/t.parquet"), "b")
    SessionState.put(key("spec.scope", "/spec/registry/sf10"), "c")
    // one trailing `/` is stripped at key construction and invalidation
    assert(SessionState.get[String](key("spec.scope", "/spec/registry/sf1/"))
      .contains("a"))
    SessionState.invalidatePath("/spec/registry/sf1/")
    assert(scoped("/spec/registry/sf1").isEmpty)
    assert(SessionState.get[String](key("spec.scope", "/spec/registry/sf10"))
      .contains("c"))
  }

  test("entries list family, scope, params and build time") {
    val k = key("spec.list", "/spec/registry/list", 3, "x")
    SessionState.getOrBuild(k) { Thread.sleep(5); "v" }
    val e = scoped("/spec/registry/list")
    assert(e.map(x => (x.family, x.scope, x.params)) ==
      Seq(("spec.list", "/spec/registry/list", Seq(3, "x"))))
    assert(e.head.buildMs >= 5)
  }

  test("bm25 corpus stats are keyed by the term list, not its joined string") {
    def copyDocs(): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_bm25key_")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
        d.resolve("documents.parquet"))
      d.toString
    }
    val dir = copyDocs()
    TextAnalysis.bm25(spark, dir, Seq("spark merge")).collect()
    val got = TextAnalysis.bm25(spark, dir, Seq("spark", "merge")).collect()
    val cold = TextAnalysis.bm25(spark, copyDocs(), Seq("spark", "merge"))
      .collect()
    assert(got.nonEmpty)
    assert(got.toSeq == cold.toSeq)
  }
}
