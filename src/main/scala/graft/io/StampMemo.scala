package graft.io

/** The driver-side model memo — the in-JVM member of the
  * amortization family ([[ArtifactStore]] is the on-disk one). A
  * model trained over an sf dir (a quantizer, a vocabulary, a merge
  * table, a drained sketch state) is built once and served to every
  * later call, keyed by the dir, the file stamps of its source
  * `tables` ([[ArtifactStore.sourceStamp]], the stamp a stored
  * artifact is keyed by) and the caller's params. A regenerated
  * source moves the stamp, so the next call retrains instead of
  * serving a stale model. The memo is bounded: the call that would
  * add entry `Bound + 1` drops every entry first, which on a long
  * session cycling many corpora just re-amortizes training.
  *
  * One instance per model, never one shared map: builds nest
  * (`UnigramLm.kept3Vocab` trains through `kept2Vocab`, `keptVocab`
  * and `corpusChars`), and `ConcurrentHashMap.computeIfAbsent`
  * throws "Recursive update" when a build updates its own map. A
  * build that throws stores nothing; the next call trains again.
  */
final class StampMemo[V](tables: String*) {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Seq[Any]), V]()

  def apply(dir: String, params: Any*)(train: => V): V = {
    val key = (dir, ArtifactStore.sourceStamp(dir, tables), params)
    if (entries.size >= StampMemo.Bound && !entries.containsKey(key))
      entries.clear()
    entries.computeIfAbsent(key, _ => train)
  }
}

object StampMemo {
  val Bound = 16
}
