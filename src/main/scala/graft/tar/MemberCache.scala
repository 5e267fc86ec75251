package graft.tar

/** Process-wide, content-addressed handoff of ASSET members from the
  * gather walk to the asset byte-copy pass. [[graft.ingest.PackageIngest.gather]]
  * already holds the members the asset plan will need (source doc,
  * parser.log, images) after its walk; it parks them here, keyed by the
  * package's md5 digest and by the exact `src_member` needle the plan will
  * carry, and the byte-copy pass consumes them without re-opening the
  * archive.
  *
  * Strictly an OPTIMIZATION, never a correctness dependency:
  *
  *   - content-addressed (md5 of the archive bytes), so a stale or
  *     colliding entry is not a reachable state — redelivered different
  *     bytes have a different digest;
  *   - bounded (LRU by total member bytes, 1 GiB), and on any miss the
  *     byte-copy pass takes the member from one selective walk of the
  *     archive instead;
  *   - process-local: on a multi-executor cluster the gather task and
  *     the byte-copy task for one package usually share an executor
  *     (both schedule process-local to the package's checkpointed
  *     blocks), but when they don't, the miss path covers it.
  *
  * The byte-copy pass [[remove]]s an entry once it moves past the
  * package (its plan rows arrive consecutively), so steady-state
  * occupancy is in-flight packages, not the whole batch. */
object MemberCache {

  private val Budget = 1L << 30

  private final case class Entry(map: Map[String, Array[Byte]], bytes: Long)

  // access-ordered: eviction drops the least recently touched digest
  private val entries = new java.util.LinkedHashMap[String, Entry](256, 0.75f, true)
  private var total = 0L

  /** Park `needle -> bytes` for one package. An entry alone exceeding
    * the budget is not cached at all (the miss path handles it). */
  def put(digest: String, map: Map[String, Array[Byte]]): Unit = synchronized {
    val bytes = map.valuesIterator.map(_.length.toLong).sum + 64L
    if (bytes > Budget) return
    val old = entries.put(digest, Entry(map, bytes))
    if (old != null) total -= old.bytes
    total += bytes
    val it = entries.entrySet().iterator()
    while (total > Budget && it.hasNext) {
      val e = it.next()
      if (e.getKey != digest) { // never evict the entry just parked
        total -= e.getValue.bytes
        it.remove()
      }
    }
  }

  def get(digest: String): Option[Map[String, Array[Byte]]] = synchronized {
    Option(entries.get(digest)).map(_.map)
  }

  def remove(digest: String): Unit = synchronized {
    val old = entries.remove(digest)
    if (old != null) total -= old.bytes
  }
}
