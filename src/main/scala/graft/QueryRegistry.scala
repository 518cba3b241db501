package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ordered registry of driver-checked queries: each entry pairs a Spark
  * query (over the graft API) with its DuckDB oracle SQL; entries without
  * SQL get the driver's weaker rows-only check. */
final class QueryRegistry {
  val entries: scala.collection.mutable.LinkedHashMap[String,
    ((SparkSession, String) => DataFrame, Option[String])] =
    scala.collection.mutable.LinkedHashMap()

  def reg(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): Unit = {
    require(!entries.contains(name), s"duplicate query $name")
    entries(name) = (fn, Some(sql))
  }
  def weak(name: String)(fn: (SparkSession, String) => DataFrame): Unit = {
    require(!entries.contains(name), s"duplicate query $name")
    entries(name) = (fn, None)
  }
}

/** Cross-engine determinism helpers.
  *
  * The driver hash-compares values bit-for-bit, so every aggregate of
  * doubles must be order-independent: per-row IEEE arithmetic is
  * deterministic on any engine, but a parallel double SUM is
  * partition-order-dependent. Rule: sums/moments go through DECIMAL
  * (order-independent); ratios divide exact decimals in double at the
  * end (bit-identical inputs → bit-identical IEEE result).
  */
object QHelp {
  /** PER-JVM oracle-fixture root: `java.io.tmpdir`/graft-qtmp-&lt;pid&gt;.
    * The pid folds in so concurrent evidence runs (a test JVM next to
    * two verify sweeps — the documented 477/478 repro) can never share
    * or corrupt each other's persisted-index fixtures; within one JVM
    * the stamp-file caching across queries still works.
    * A shutdown hook deletes the root at JVM exit — without it every
    * verify/bench/test JVM would leave its full fixture set (indexes,
    * tokenizer models, ingest snapshots) in tmp, unbounded across CI
    * sweeps; only the owning pid's hook touches the dir, so the
    * concurrency isolation is untouched. */
  lazy val qtmpRoot: java.io.File = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft-qtmp-${java.lang.ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val sub = f.listFiles()
        if (sub != null) sub.foreach(rm)
        f.delete(); ()
      }
      rm(root)
    }, "graft-qtmp-cleanup"))
    root
  }

  /** A named fixture directory under [[qtmpRoot]]. */
  def qtmpDir(sub: String): java.io.File =
    new java.io.File(qtmpRoot, sub)

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(s, dir, name)

  /** Deterministic 31-bit Knuth key hash in [0, 2^32): engine-agnostic
    * (pure integer arithmetic, DuckDB-reproducible) and overflow-safe for
    * any BIGINT key — the key is masked to 31 bits BEFORE the multiply so
    * (2^31-1) * 2654435761 stays inside Long (ANSI would throw on wrap).
    * THE single definition — sampleByHash and Ivf both call this; a
    * second copy of the formula could silently diverge from the oracle
    * SQL mirror (q_sample_hash). */
  def keyHash31(c: Column): Column =
    pmod(pmod(c, lit(2147483648L)) * 2654435761L, lit(4294967296L))

  /** EXACT integer floor division `⌊a / k⌋` for a positive literal k:
    * integral division's toward-zero quotient, minus one when the
    * remainder (which takes a's sign) is negative. Exact at ANY
    * magnitude and sign — unlike `floor(a.cast(double) / k)`, which is
    * only provably exact while |a| < 2^53·(safety margin), an argument
    * every window/shard-id call site would otherwise have to carry —
    * and overflow-free at the Long extremes, where shifting a by up to
    * k before dividing would wrap (or throw under ANSI). Stays in long
    * arithmetic end to end (whole-stage codegen, no double round
    * trip). */
  def floorDiv(a: Column, k: Long): Column =
    quotient(a, k) - when(a % lit(k) < 0L, 1L).otherwise(0L)

  /** EXACT integer ceiling division `⌈a / k⌉` for a positive literal
    * k: the toward-zero quotient plus one when the remainder is
    * positive. */
  def ceilDiv(a: Column, k: Long): Column =
    quotient(a, k) + when(a % lit(k) > 0L, 1L).otherwise(0L)

  /** `a div k`, truncated toward zero. */
  private def quotient(a: Column, k: Long): Column = {
    require(k > 0, s"floorDiv/ceilDiv: k must be positive, got $k")
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      expression(a), expression(lit(k))))
  }

  /** Oracle-side decimal→double conversion, VARCHAR-mediated so DuckDB
    * rounds IDENTICALLY to Spark at ANY magnitude. Spark's cast is
    * always correctly rounded (BigDecimal.doubleValue: an exact ≤2^52
    * compact value divided by an exact power of ten is one rounding;
    * the general path parses the full digit string). DuckDB's direct
    * CAST(decimal AS DOUBLE) double-rounds (unscaled→double, then
    * ÷10^scale) and can differ by 1 ulp once the unscaled value leaves
    * the 2^53 window — decimal→VARCHAR is exact digits and
    * VARCHAR→DOUBLE is correctly rounded, so the mediated form matches
    * Spark bit-for-bit without any magnitude bound. Inside the window
    * both forms are exact, so adopting this is a no-op for small SFs. */
  def dbl(e: String): String = s"CAST(CAST(($e) AS VARCHAR) AS DOUBLE)"

  /** Windowed decimal sum cast to double — the rolling moment
    * discipline's single definition (q_rolling_cov / q_rolling_skew);
    * `over` is the named window in the surrounding SQL. */
  def wsumSql(e: String, p: Int, over: String = "w"): String =
    dbl(s"sum(CAST($e AS DECIMAL($p,0))) OVER $over")

  /** Exact, order-independent sum of a double expression. Per-value cast
    * is DECIMAL(28,s): |v| < 10^(28-s) before any value nulls out, far
    * above TPC-H magnitudes at any SF (ADVICE r1: 18-s was too tight). */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(28, scale))).cast(DecimalType(38, scale))
  def dsumSql(x: String, scale: Int = 4): String =
    s"CAST(sum(CAST(($x) AS DECIMAL(28,$scale))) AS DECIMAL(38,$scale))"

  /** Final decimal→double conversion. Historically this RAISED once the
    * unscaled value left the 2^53 exact window (where DuckDB's direct
    * decimal→double cast can double-round away from Spark). Every
    * oracle-side conversion is now VARCHAR-mediated ([[dbl]]), which is
    * correctly rounded at any magnitude — the same rounding Spark's
    * cast always produces — so the conversion matches without a bound
    * and the guard is a plain cast. (10×-sf0.1 stress sweep: the old
    * guard fired on q_groupby_agg's sum_charge; with dbl-mediated
    * oracles the hashes match instead.) `scale` is kept so call sites
    * still document their accumulator scale. */
  def exactDouble(s: Column, scale: Int): Column = s.cast(DoubleType)

  /** dsum whose FINAL value is cast to DOUBLE — for queries whose output
    * column is the sum itself. Accumulation stays decimal
    * (order-independent); the trailing decimal→double conversion is the
    * nearest-double on both engines while the unscaled value < 2^53, so
    * the driver's dtype-sensitive hash matches (r2: raw DECIMAL output
    * columns don't survive pyarrow-vs-DuckDB canonicalization). */
  def dsumD(c: Column, scale: Int = 4): Column = exactDouble(dsum(c, scale), scale)
  def dsumDSql(x: String, scale: Int = 4): String =
    dbl(dsumSql(x, scale))

  /** Exact mean: decimal sum / count, final division in double. */
  def dmean(c: Column): Column =
    dsum(c, 6).cast(DoubleType) / count(c)
  def dmeanSql(x: String): String =
    s"(${dbl(dsumSql(x, 6))} / count($x))"

  /** Exact sample variance from decimal moments (the parallel Welford the
    * engines run natively is partition-order-dependent in double; the
    * moment form over exact decimals is reproducible). */
  def dvar(c: Column): Column = {
    val s1 = dsum(c, 6).cast(DoubleType)
    val s2 = sum((c * c).cast(DecimalType(28, 4))).cast(DecimalType(38, 4)).cast(DoubleType)
    val n = count(c).cast(DoubleType)
    // n <= 1 -> null (ANSI divide-by-zero must not fail the job)
    when(n > 1.0, (s2 - s1 * s1 / n) / (n - lit(1.0)))
  }
  // Scale 4 on the product sums: source columns carry <=2 decimal digits,
  // so products are exact at 4 — and the smaller unscaled magnitude keeps
  // the decimal->double conversion exactly representable (a scale-8 sum of
  // squares exceeded 2^53 and double-rounded differently per engine).
  // CASE mirrors the Spark-side when(n > 1) guard: a single-row group must
  // be NULL on both engines, not inf/NaN on one (ADVICE r2).
  def dvarSql(x: String): String =
    s"(CASE WHEN count($x) > 1 THEN " +
      s"(${dbl(s"CAST(sum(CAST(($x) * ($x) AS DECIMAL(28,4))) AS DECIMAL(38,4))")}" +
      s" - ${dbl(dsumSql(x, 6))} * ${dbl(dsumSql(x, 6))} / CAST(count($x) AS DOUBLE))" +
      s" / (CAST(count($x) AS DOUBLE) - 1.0) ELSE NULL END)"

  def dstd(c: Column): Column = sqrt(dvar(c))
  def dstdSql(x: String): String = s"sqrt(${dvarSql(x)})"

  /** Standard error of the mean (reference `sem`): std / sqrt(n). */
  def dsem(c: Column): Column = dstd(c) / sqrt(count(c).cast(DoubleType))
  def dsemSql(x: String): String =
    s"(${dstdSql(x)} / sqrt(CAST(count($x) AS DOUBLE)))"

  /** Exact sample covariance of two double columns via decimal co-moments. */
  def dcov(x: Column, y: Column): Column = {
    val sxy = sum((x * y).cast(DecimalType(28, 4))).cast(DecimalType(38, 4)).cast(DoubleType)
    val sx = dsum(x, 6).cast(DoubleType)
    val sy = dsum(y, 6).cast(DoubleType)
    val n = count(x).cast(DoubleType)
    when(n > 1.0, (sxy - sx * sy / n) / (n - lit(1.0)))
  }
  def dcovSql(x: String, y: String): String =
    s"(CASE WHEN count($x) > 1 THEN " +
      s"(${dbl(s"CAST(sum(CAST(($x) * ($y) AS DECIMAL(28,4))) AS DECIMAL(38,4))")}" +
      s" - ${dbl(dsumSql(x, 6))} * ${dbl(dsumSql(y, 6))} / CAST(count($x) AS DOUBLE))" +
      s" / (CAST(count($x) AS DOUBLE) - 1.0) ELSE NULL END)"

  def dcorr(x: Column, y: Column): Column = dcov(x, y) / sqrt(dvar(x) * dvar(y))
  def dcorrSql(x: String, y: String): String =
    s"(${dcovSql(x, y)} / sqrt(${dvarSql(x)} * ${dvarSql(y)}))"
}
