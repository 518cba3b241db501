package graft.llm

import org.apache.spark.sql.DataFrame

/** Widens sub-parallelism frames before a blockwise (per-row expression)
  * stage so every core participates.
  *
  * Deliberately avoids `df.rdd.getNumPartitions`: materializing the RDD
  * instantiates a second physical plan on the driver purely for a
  * partition count, which doubles driver-side planning in long pipelines.
  * Instead the decision keys off the *input file count* (available from
  * the logical plan, no physical planning): a real corpus has ≥
  * `defaultParallelism` files and passes through untouched — the same
  * outcome the old probe produced, without the extra plan.
  *
  * r16 optimization: the spread width is SIZE-AWARE instead of a flat
  * `repartition(defaultParallelism)`. An explicit repartition(n) is
  * user-pinned — AQE never coalesces it — so spreading a tiny frame to
  * the full core count forces n-task stages on every downstream job for
  * kilobytes of work (measured: the fixture-scale pipeline chains ran
  * 32-task stages end-to-end). The width now grows with the frame's
  * logical-plan byte estimate (parquet file mass — no physical planning),
  * one partition per `spark.graft.spread.targetBytes` (default 2 MiB of
  * input per task — text-hash expressions run ~50-100 MB/s/core, so a
  * partition is ~20-40 ms of work, well above task overhead), capped at
  * `defaultParallelism`. At real scale the estimate exceeds
  * cores × target and the result is the old full-width spread; results
  * are partition-count independent everywhere by repo discipline. */
private[graft] object Spread {
  /** `target` overrides the per-partition byte goal for stages whose
    * per-byte CPU cost is far above the text-hash norm (regex
    * tokenization runs ~2-5 MB/s/core measured against minhash's
    * ~50-100): a smaller target widens the spread so the expensive
    * expression still parallelizes.
    *
    * `confKey` is the knob that overrides THIS call site's target
    * (r17, from the r16 advice): the call sites deliberately differ by
    * 64x in per-byte cost class, so one global conf silently
    * re-serializing the vector rankers while tuning text stages was a
    * footgun — `spark.graft.spread.targetBytes` overrides the 2 MiB
    * text-hash default and `...vectorTargetBytes` Similarity's batch
    * rankers. Lexical's regex tokenize passes only its 256 KiB target,
    * so the text-hash key overrides it too. */
  def apply(df: DataFrame, target: Long = 2L << 20,
            confKey: String = "spark.graft.spread.targetBytes"): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val par = sc.defaultParallelism
    val files = df.inputFiles.length
    if (files >= par) df
    else {
      val targetBytes = df.sparkSession.conf
        .getOption(confKey)
        .map(_.toLong).getOrElse(target)
      // analyzed (not raw logical): raw plans may still hold unresolved
      // datasource leaves, which cannot answer computeStats
      val bytes = df.queryExecution.analyzed.stats.sizeInBytes
      val want = (bytes / targetBytes).min(BigInt(par)).max(BigInt(1)).toInt
      if (want <= files) df else df.repartition(want)
    }
  }
}
