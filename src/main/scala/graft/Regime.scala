package graft

import org.apache.spark.sql.Dataset

/** The driver-local vs distributed regime split of every operator whose
  * input is usually dimension-sized (entity dims, cluster graphs, pair
  * dictionaries — dims ≪ facts even at web scale). Below its budget an
  * operator runs a driver mirror in milliseconds where the distributed
  * chain pays ~a dozen jobs of fixed overhead.
  *
  * [[collectUpTo]] is the probe: ONE `limit(cap + 1)` job whose rows, when
  * they fit, ARE the driver-local input, so the small case evaluates its
  * input once; a `cap + 1`st row proves the input big and is discarded.
  *
  * The budgets bound driver memory, not time:
  *  - [[MaxDriverEdges]]: 5 M symmetric (long, long) edges, about 80 MB,
  *    for the connected-components union-find;
  *  - [[MaxDriverRows]]: 100 k rows, shared by the entity linker (surface
  *    strings, a few MB) and embedding dedup (vectors, tens of MB);
  *  - [[MaxBroadcastPairs]]: 1 M surviving (e1, e2) surface pairs, the
  *    largest keep set the MTB pair-frequency filter broadcasts;
  *  - [[MaxDriverKeys]]: 32 M packed dense-id keys, one long each
  *    (256 MB), sorted and broadcast by `DenseId.withDenseIdProbed`, whose
  *    key pass is its probe. */
object Regime {

  final val MaxDriverEdges = 5000000
  final val MaxDriverRows = 100000
  final val MaxBroadcastPairs = 1000000
  final val MaxDriverKeys = 32000000

  private val forced = ThreadLocal.withInitial[Boolean](() => false)

  /** Runs `body` with every budget read as 0, so each regime split takes
    * the branch an input over its budget takes. Test seam, confined to
    * this thread (a ThreadLocal, not inherited): work handed to other
    * threads, such as SparkEntry's `inParallel` futures, is not forced. */
  private[graft] def forcingDistributed[A](body: => A): A = {
    val prev = forced.get
    forced.set(true)
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
