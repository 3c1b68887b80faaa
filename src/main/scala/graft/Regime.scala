package graft

import org.apache.spark.sql.Dataset

/** The driver-local vs distributed regime split of every operator whose
  * input is usually dimension-sized (entity dims, cluster graphs, pair
  * dictionaries, the documents of a dedup pass). Below its budget an
  * operator runs a driver mirror in milliseconds where the distributed
  * chain pays ~a dozen jobs of fixed overhead.
  *
  * [[collectUpTo]] is the probe: ONE `limit(cap + 1)` job whose rows, when
  * they fit, ARE the driver-local input, so the small case evaluates its
  * input once; a `cap + 1`st row proves the input big and is discarded.
  *
  * The budgets bound driver memory, not time:
  *  - [[MaxDriverPairs]]: 5 M fixed-size (long, long) rows, about 80 MB,
  *    for every such probe: the symmetric edges of connected components,
  *    the (doc_id, shingle) rows of MinHash dedup and the (doc_id,
  *    simhash) rows of SimHash dedup;
  *  - [[MaxDriverRows]]: 100 k rows, shared by the entity linker (surface
  *    strings, a few MB) and embedding dedup (vectors, tens of MB);
  *  - [[MaxBroadcastPairs]]: 1 M surviving (e1, e2) surface pairs, the
  *    largest keep set the MTB pair-frequency filter broadcasts;
  *  - [[MaxDriverKeys]]: 32 M packed dense-id keys, one long each
  *    (256 MB), sorted and broadcast by `DenseId.withDenseIdProbed`, whose
  *    key pass is its probe. */
object Regime {

  final val MaxDriverPairs = 5000000
  final val MaxDriverRows = 100000
  final val MaxBroadcastPairs = 1000000
  final val MaxDriverKeys = 32000000

  private val forced = ThreadLocal.withInitial[Boolean](() => false)

  /** Runs `body` with every budget read as 0, so each regime split takes
    * the branch an input over its budget takes. Test seam, confined to
    * this thread (a ThreadLocal, not inherited, so a pool thread never
    * keeps it); work handed to another thread carries it only through
    * [[carry]]. */
  private[graft] def forcingDistributed[A](body: => A): A = within(true)(body)

  /** `body` as a thunk that runs under the calling thread's seam state on
    * whichever thread calls it, e.g. inside a Future. */
  private[graft] def carry[A](body: => A): () => A = {
    val f = forced.get
    () => within(f)(body)
  }

  private def within[A](f: Boolean)(body: => A): A = {
    val prev = forced.get
    forced.set(f)
    try body finally forced.set(prev)
  }

  /** `budget`, or 0 inside [[forcingDistributed]]. */
  private[graft] def bound(budget: Int): Int = if (forced.get) 0 else budget

  /** All rows of `ds` when there are at most `cap` of them (0 inside
    * [[forcingDistributed]]), else None — from exactly one job. */
  def collectUpTo[T](ds: Dataset[T], cap: Int): Option[Array[T]] = {
    require(cap >= 0 && cap < Int.MaxValue, s"collectUpTo cap $cap outside [0, Int.MaxValue)")
    val c = bound(cap)
    val rows = ds.limit(c + 1).collect()
    if (rows.length <= c) Some(rows) else None
  }
}
