package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Session bootstrap with scale-appropriate defaults.
  *
  * Design notes (100 TB target):
  *  - `spark.sql.shuffle.partitions` is sized for the local harness (32);
  *    on a real cluster AQE coalesces / splits post-shuffle partitions from
  *    runtime statistics, so the static value only seeds the initial plan.
  *  - AQE is on: runtime broadcast-join demotion/promotion, skew-join
  *    splitting and partition coalescing are exactly the knobs the reference
  *    implements by hand (split_out tuning, broadcast heuristics —
  *    reference `_merge.py:168-203`, `_groupby.py:142-150`); Spark does them
  *    from observed sizes instead of estimates.
  *  - 128 MiB file-split size matches the reference's parquet blocksize
  *    (reference `io/parquet.py:511-521`).
  */
object GraftSession {
  def builder(master: String = "local[*]", appName: String = "graft")
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Cached plans use AQE too (default false): the pipeline chain
      // persists 3-4 stage boundaries per build, and without this every
      // shuffle BELOW a persisted boundary is frozen at the static
      // shuffle-partition seed — 32 tasks per tiny stage locally, and at
      // cluster scale cached partitions that ignore runtime statistics.
      // AQE right-sizes them from observed bytes in both regimes
      // (measured r16: q_pipeline_e2e 1078→181 tasks, −2.3 s).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def getOrCreate(): SparkSession = builder().getOrCreate()

  /** Table loader for the driver-provided TPC-H-ish directories.
    *
    * `events.parquet` carries TIMESTAMP(NANOS) which the Spark reader
    * rejects; with `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    * Verify/Bench/builder) it arrives as a nanosecond LongType, converted
    * here to TIMESTAMP_NTZ micros — `x div 1000` floor-truncation, the
    * same losless-to-us conversion DuckDB applies, so oracles agree.
    *
    * Resolve-once: parquet schema inference runs one Spark job per read
    * (the footer merge), so each table's schema is inferred once per
    * FILE VERSION and later reads pass it to `spark.read.schema(..)`,
    * which launches no job. An entry is keyed on the qualified path and
    * the session's parquet-read confs (`spark.sql.parquet.*`,
    * `spark.sql.legacy.parquet.*`, `spark.sql.caseSensitive` — they
    * change what inference returns), and is valid only while the leaf
    * files the read lists — each file's path, length and modification
    * time — are exactly the ones it was inferred from; on any difference
    * the read infers as before and replaces the entry. One entry per
    * (path, confs) key, holding no session. The cache lives in this JVM,
    * so only a repeat read of an unchanged file version saves the job:
    * the first read of each table in a process still infers. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = resolvedParquet(spark, s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) { (d, f) =>
      // keyed on the table NAME too: only the driver's events fixture
      // carries TIMESTAMP(NANOS); a user table with a legitimate bigint
      // 'ts' (e.g. epoch millis) must not be reinterpreted (r2 ADVICE)
      if (name == "events" && f.name == "ts" &&
          f.dataType == org.apache.spark.sql.types.LongType)
        d.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000"))
            .cast(org.apache.spark.sql.types.TimestampNTZType))
      else d
    }
  }

  /** An inferred schema and the leaf files (path, length, mtime) it was
    * inferred from. */
  private final case class Resolved(files: Seq[(String, Long, Long)],
                                    schema: StructType)

  private val resolved =
    new ConcurrentHashMap[(String, Map[String, String]), Resolved]()

  private def resolvedParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val qualified =
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
      k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.caseSensitive"
    }
    val key = (qualified.toString, confs)
    Option(resolved.get(key))
      .map(r => r -> spark.read.schema(r.schema).parquet(path))
      .collect { case (r, df) if leafFiles(df).contains(r.files) => df }
      .getOrElse {
        val df = spark.read.parquet(path)
        leafFiles(df).foreach(files =>
          resolved.put(key, Resolved(files, df.schema)))
        df
      }
  }

  /** The leaf files a parquet read listed when it was created — the
    * listing its scan reads, so no second listing is made. */
  private def leafFiles(df: DataFrame): Option[Seq[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.collect { case ix: PartitioningAwareFileIndex =>
      ix.allFiles().map(f =>
        (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    }
}
