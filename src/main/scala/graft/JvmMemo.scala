package graft

/** The one per-JVM memo behind every "build it once per JVM" artifact:
  * values that are deterministic pure functions of (recipe, sf dir).
  * Callers:
  *   - [[LayoutCache]] — parquet trees (`tree`) and the (path, schema)
  *     of materialized derived tables (`table`): MinHash pair tables,
  *     graph edges, ANN models, token tables;
  *   - the tokenizer learners in `operators.Corpus` (`value`): BPE
  *     merges, unigram candidates, WordPiece vocabulary, each a
  *     multi-job driver round-trip that 3–7 registered queries share;
  *   - [[Tables.parquetRowCount]] (`rows`): footer row counts.
  *
  * The first consumer in a JVM pays the full build inside its own
  * timed pass (amortized cost is the honest cost — PLANS.md
  * round-22/23); consumers still run their full plans over the built
  * artifact, so no query result is cached. Nothing survives the JVM:
  * every bench/oracle invocation still computes everything from the
  * parquet inputs.
  *
  * The key carries the kind, so a tree path can never be read back as
  * another kind's value.
  *
  * Concurrency: a per-key CompletableFuture, not the value itself. The
  * (possibly multi-second) compute runs OUTSIDE any ConcurrentHashMap
  * bucket lock — a compute inside computeIfAbsent would block
  * unrelated keys hashing to the same bin and deadlock on any nested
  * call. putIfAbsent decides the single computing thread in O(1);
  * losers block on the winner's future only. A failed compute is
  * uncached (a retry re-runs it) and rethrown to the caller AND any
  * concurrent waiters.
  */
object JvmMemo {

  private val values = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[AnyRef]]()

  // keys whose compute THIS thread is currently inside: a same-key
  // re-entrant call would block forever on prior.join() of its own
  // incomplete future. No current compute recurses; fail fast so a
  // future one can't hang a sweep.
  private val inFlight = ThreadLocal.withInitial[java.util.HashSet[String]](
    () => new java.util.HashSet[String]())

  def getOrCompute[T <: AnyRef](kind: String, recipe: String, dir: String)(
      compute: => T): T = {
    val key = s"$kind:$recipe|$dir"
    if (inFlight.get().contains(key))
      throw new IllegalStateException(
        s"re-entrant JvmMemo.getOrCompute for '$key' — the compute " +
          "lambda (transitively) requested its own key, which would " +
          "deadlock on the in-flight future")
    val mine = new java.util.concurrent.CompletableFuture[AnyRef]()
    val prior = values.putIfAbsent(key, mine)
    if (prior != null) prior.join().asInstanceOf[T]
    else
      try {
        inFlight.get().add(key)
        val v = compute
        mine.complete(v)
        v
      } catch {
        case e: Throwable =>
          values.remove(key, mine)
          mine.completeExceptionally(e)
          throw e
      } finally inFlight.get().remove(key)
  }

  /** Drop every entry: [[LayoutCache.deleteAll]] calls this once the
    * trees its entries name are gone.
    */
  private[graft] def clear(): Unit = values.clear()
}
