package graft.operators

/** Size-bounded, least-recently-used memo for driver-side compiled
  * artifacts (XSLT sheets, Schematron rule sets): a long-lived driver
  * that compiles many distinct inputs keeps at most `capacity` of
  * them. Only successful computations are kept, so a throwing
  * `compute` re-throws on every call. Two threads missing the same key
  * may both compute it (values are pure functions of their key); the
  * first one stored is the one every caller gets back. */
private[graft] final class BoundedMemo[K, V <: AnyRef](val capacity: Int) {
  require(capacity >= 1, s"capacity must be >= 1, got $capacity")

  private val entries = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      this.size > capacity
  }

  def getOrCompute(key: K)(compute: => V): V =
    entries.synchronized(Option(entries.get(key))).getOrElse {
      val v = compute
      entries.synchronized(Option(entries.putIfAbsent(key, v)).getOrElse(v))
    }

  def size: Int = entries.synchronized(entries.size)
}
