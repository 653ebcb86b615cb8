package graft

/** The one registry of session-derived state: trained centroids and PQ
  * codebooks, signature and band tables, BPE merges, bm25 stats, query
  * vectors, store paths, parquet schemas — every structure the engine
  * builds once and then reuses across a session's queries.
  *
  * '''The immutable-corpus contract.''' Entries are keyed by the path
  * they were derived from, never by content: a corpus directory (or a
  * store path) is assumed IMMUTABLE for the session's lifetime — the
  * right trade for a bench driver or an immutable data lake. A caller
  * that mutates a corpus in place (regenerating parquet under the same
  * path, appending files) must call [[invalidatePath]] (the public
  * spelling is [[GraftSession.invalidateCorpus]]) with that directory,
  * or later calls serve results derived from the old corpus. Stores built
  * FROM a corpus (`ensureStore` and friends) rebuild at fresh paths on
  * next use; stores mutated through the CRUD surface (`appendStore`,
  * `compactStore`, `recoverStore`) refresh their own entries.
  *
  * '''Keys.''' A [[Key]] is (family, scope, params). The scope
  * is the directory the entry was derived from, with a trailing `/`
  * stripped once; `invalidatePath(p)` drops every entry whose scope is
  * `p` or lies under `p/` — the one scope rule, so `/data/sf1` never
  * touches `/data/sf10`. Catalog-backed entries (their value names a
  * table in one session's catalog) carry the session id as their last
  * param, so another session rebuilds instead of serving a name it
  * cannot resolve; every other family shares its state across sessions.
  *
  * '''Builds.''' Each entry holds a once-only cell built OUTSIDE the
  * map's lock, so a build may itself look up or build other entries; two
  * threads asking for one key build it once; a build that throws leaves
  * no entry behind. A hit is one `ConcurrentHashMap.get` plus a volatile
  * read — no lock, no scan, no logging. Each build is logged once at
  * INFO with its family, scope and wall time; [[entries]] lists what the
  * session holds.
  */
object SessionState {

  final case class Key(family: String, scope: String, params: Seq[Any])

  /** A key for `family`'s entry derived from `scope` under `params`. */
  def key(family: String, scope: String, params: Any*): Key =
    Key(family, scope.stripSuffix("/"), params.toList)

  /** One listed entry: what it is, what it was derived from, what its
    * build cost (0 for entries a writer registered through [[put]]). */
  final case class Entry(
      family: String, scope: String, params: Seq[Any], buildMs: Long)

  private final class Cell {
    @volatile var value: AnyRef = _
    @volatile var buildMs: Long = 0L
  }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[Key, Cell]()
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The entry for `k`, built by `build` on first use. */
  def getOrBuild[V](k: Key)(build: => V): V = {
    val hit = cells.get(k)
    val v = if (hit == null) null else hit.value
    (if (v != null) v else slowPath(k, () => build.asInstanceOf[AnyRef]))
      .asInstanceOf[V]
  }

  @scala.annotation.tailrec
  private def slowPath(k: Key, build: () => AnyRef): AnyRef = {
    val cell = cells.computeIfAbsent(k, _ => new Cell)
    // null = the cell was dropped (a failed build or an invalidation)
    // while this thread waited: start over from the map
    val got = cell.synchronized {
      if (cell.value != null) cell.value
      else if (cells.get(k) ne cell) null
      else {
        val t0 = System.nanoTime()
        val v =
          try build()
          catch { case e: Throwable => cells.remove(k, cell); throw e }
        require(v != null, s"SessionState: ${k.family} built null")
        cell.buildMs = (System.nanoTime() - t0) / 1000000L
        cell.value = v
        log.info(s"built ${k.family}${k.params.mkString("(", ", ", ")")} " +
          s"for ${k.scope} in ${cell.buildMs} ms")
        v
      }
    }
    if (got != null) got else slowPath(k, build)
  }

  /** The entry for `k` while `fresh` accepts it; otherwise one built by
    * `build` REPLACES it. For state whose source changes under one key
    * (an append delta's file listing): a key per version would grow the
    * registry with every change. A thread that races a replacement may
    * get the other thread's entry. */
  def getOrReplace[V](k: Key)(fresh: V => Boolean)(build: => V): V = {
    val hit = cells.get(k)
    val v = if (hit == null) null else hit.value
    if (v != null && fresh(v.asInstanceOf[V])) v.asInstanceOf[V]
    else {
      if (v != null) cells.remove(k, hit)
      getOrBuild(k)(build)
    }
  }

  /** The built entry for `k`, if any — never builds. */
  def get[V](k: Key): Option[V] =
    Option(cells.get(k)).flatMap(c => Option(c.value)).map(_.asInstanceOf[V])

  /** Register `v` as the entry for `k` — writers seed what they just
    * wrote, so the next read skips rebuilding it. */
  def put(k: Key, v: AnyRef): Unit = {
    val cell = new Cell
    cell.value = v
    cells.put(k, cell); ()
  }

  /** Drop every entry scoped to `path` or to a path under it. */
  def invalidatePath(path: String): Unit = {
    val p = path.stripSuffix("/")
    cells.keySet.removeIf(k => k.scope == p || k.scope.startsWith(p + "/")); ()
  }

  /** The built entries, for inspection. */
  def entries: Seq[Entry] = {
    val out = Seq.newBuilder[Entry]
    cells.forEach { (k, c) =>
      if (c.value != null) out += Entry(k.family, k.scope, k.params, c.buildMs)
    }
    out.result()
  }
}
