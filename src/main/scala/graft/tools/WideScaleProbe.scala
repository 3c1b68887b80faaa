package graft.tools

import org.apache.spark.sql.SparkSession

/** Phase-timed wide (shuffle-heavy MTB chain) run for the Bench wide
  * scaling legs. Per-phase CPU, shuffle and spill figures come from
  * `python3 perfbench/run.py --trace 1` (the `mtb.<phase>.*` metrics). */
object WideScaleProbe {

  /** One phase-timed run through MtbDataset.build's probe hook over a
    * caller-supplied page set (Bench reads the shared parquet corpus so
    * both scaling legs scan identical stored bytes) — the SAME stage
    * boundaries the production build has (statements persist, the two dict
    * groupBys, the freq filter, tokenize+DenseId encode, the salted pools
    * collect), each forced and timed in order. Returns the ordered
    * (phase, sec) list and the pool count. */
  def phasedRunOn(
      s: SparkSession,
      pages: org.apache.spark.sql.Dataset[graft.schema.WebPage]): (Seq[(String, Double)], Long) = {
    val sc = s.sparkContext
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var pools = 0L
    val w0 = System.nanoTime()
    // probe contract: the thunk CONSTRUCTS the stage (construction can run
    // Spark jobs — DenseId's zipWithIndex offsets job materializes the
    // whole upstream, including the freq-filter semi join and tokenize
    // mapPartitions) — so construct AND force inside the timed window.
    val ds = graft.statements.MtbDataset.build(
      s, pages,
      sc.broadcast(new graft.annotate.Gazetteer(graft.fixtures.FixtureVocab.AllEntities)),
      sc.broadcast(graft.tokenize.Vocab.fixtureTokenizer),
      minCount = 2, minPoolSize = 2,
      probe = (name, thunk) => {
        val t0 = System.nanoTime()
        val c = thunk().count()
        buf += name -> (System.nanoTime() - t0) / 1e9
        if (name == "pools") pools = c
      })
    // residual = plan construction/analysis between stage windows; a large
    // residual would mean a stage is doing untimed work again — kept as an
    // always-present phase so the artifact self-audits (hi-leg residual
    // < 2 s keeps it out of Bench's steady aggregate by construction)
    val wall = (System.nanoTime() - w0) / 1e9
    buf += "residual" -> math.max(0.0, wall - buf.map(_._2).sum)
    ds.close()
    (buf.toSeq, pools)
  }
}
