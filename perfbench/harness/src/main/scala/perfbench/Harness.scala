package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, run the untimed output-check
  * pass, then a fixed number of closed-loop timed passes over the
  * workload's queries, and write the raw record as JSON.
  *
  * The program is driven only through its public entry points,
  * `graft.SparkEntry.queries` and `graft.SparkEntry.benchPrepare`. One
  * client: the next query starts when the previous one has finished.
  * The seed fixes the query order of every pass.
  *
  * Usage: Harness key=value... with keys data, queries (comma list),
  * cpus, seed, warmup (untimed passes after the check pass), passes,
  * trace (0|1), check (output dir), out (record file), trace_out (span
  * file, trace=1 only).
  */
object Harness {

  /** Fixed pure-JVM kernel (integer mixing over a private array), timed
    * at the start and end of a run so host-speed drift shows next to
    * the numbers. Does no I/O and allocates once. */
  def calibrate(): Double = {
    val a = new Array[Long](1 << 16)
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      val j = (x & 0xFFFF).toInt
      a(j) += x
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (a.sum == 42L) println("")  // keeps the loop from being elided
    dt
  }

  def hostFacts(): Map[String, Any] = {
    val os = ManagementFactory.getOperatingSystemMXBean
    val free = os match {
      case b: com.sun.management.OperatingSystemMXBean =>
        b.getFreeMemorySize.toDouble / (1 << 20)
      case _ => -1.0
    }
    Map("load_avg_1m" -> os.getSystemLoadAverage, "free_mem_mb" -> free)
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis())
    val conf = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val data = conf("data")
    val queries = conf("queries").split(",").toSeq
    val cpus = conf("cpus").toInt
    val seed = conf("seed").toLong
    val warmupCount = conf("warmup").toInt
    val passCount = conf("passes").toInt
    val trace = conf("trace") == "1"
    val checkDir = conf("check")

    val hostBefore = hostFacts()
    val calibStart = calibrate()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val entries = graft.SparkEntry.queries
    val unknown = queries.filterNot(entries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // Set-up: session and query registry, then the fixtures the program
    // declares for these queries.
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val prepareS = queries.flatMap { q =>
      graft.SparkEntry.benchPrepare.get(q).map { prep =>
        val t = System.nanoTime()
        prep(spark, data)
        q -> (System.nanoTime() - t) / 1e9
      }
    }.toMap
    val readyS = (System.currentTimeMillis() - jvmStart) / 1e3

    // Untimed output-check pass; it also warms every query's plan and
    // code paths before the timed passes. Its queries run `cpus` at a
    // time: a first execution is mostly single-threaded driver work
    // (class loading, planning, code generation), and the pass would
    // otherwise take half of a run.
    val failed = mutable.LinkedHashMap[String, String]()
    val tCheck = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    val checks = queries.map { q =>
      q -> pool.submit[Unit](() =>
        entries(q)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$q"))
    }
    for ((q, f) <- checks)
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException =>
        val c = e.getCause
        failed(q) = s"check pass: ${c.getClass.getSimpleName}: ${c.getMessage}"
      }
    pool.shutdown()
    spark.catalog.clearCache()
    val checkS = (System.nanoTime() - tCheck) / 1e9
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) =>
      queries.contains(k) }

    val rng = new java.util.Random(seed)
    def shuffled(): Seq[String] = {
      val l = new java.util.ArrayList[String]()
      queries.foreach(l.add)
      java.util.Collections.shuffle(l, rng)
      scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq
    }

    // Warm-up: untimed sequential passes, run as the timed ones are, until
    // the JIT has compiled the driver-side paths. Queries whose frame is
    // built by many eager jobs keep getting faster for two passes after
    // the check pass; timing them earlier measures the warm-up curve.
    val tWarm = System.nanoTime()
    for (pass <- 1 to warmupCount; q <- shuffled()) {
      try entries(q)(spark, data).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failed.getOrElseUpdate(q,
          s"warm-up pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    val warmupS = (System.nanoTime() - tWarm) / 1e9
    // Set-up is everything before the first timed query except the
    // output check: JVM, session, registry, fixtures and warm-up.
    val setupS = readyS + warmupS

    // Timed passes. With trace=1 the caller asks for three and only the
    // middle one is traced: the untraced passes on both sides of it give
    // the tracing overhead without a bias from warm-up drift.
    val tracer = if (trace) Some(new Tracer(spark)) else None
    final case class Sample(query: String, pass: Int, traced: Boolean,
                            buildS: Double, totalS: Double, cachedLeft: Int)
    val samples = mutable.ArrayBuffer[Sample]()
    val passes = mutable.ArrayBuffer[(Int, Boolean, Double)]()
    val tTimed = System.nanoTime()
    for (pass <- 1 to passCount) {
      val traced = trace && pass == 2
      if (traced) tracer.foreach(_.attach())
      val order = shuffled()
      val tp = System.nanoTime()
      for (q <- order) {
        val run = s"$q#$pass"
        if (traced) sc.setJobGroup(run, run)
        val t0 = System.nanoTime()
        try {
          val df = entries(q)(spark, data)
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          val left = sc.getPersistentRDDs.size
          if (traced) tracer.foreach(_.queryDone(run, q, pass, t0, t1, t2, left))
          samples += Sample(q, pass, traced, (t1 - t0) / 1e9, (t2 - t0) / 1e9, left)
        } catch { case e: Throwable =>
          failed.getOrElseUpdate(q,
            s"pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        if (traced) sc.clearJobGroup()
        spark.catalog.clearCache()
      }
      passes += ((pass, traced, (System.nanoTime() - tp) / 1e9))
      if (traced) tracer.foreach(_.detach())
    }
    val timedS = (System.nanoTime() - tTimed) / 1e9

    val retainedMb = {
      val mem = ManagementFactory.getMemoryMXBean
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
      mem.getHeapMemoryUsage.getUsed.toDouble / (1 << 20)
    }
    val calibEnd = calibrate()
    val hostAfter = hostFacts()

    val record = mutable.LinkedHashMap[String, Any](
      "queries" -> queries,
      "seed" -> seed,
      "session" -> Map(
        "master" -> sc.master,
        "default_parallelism" -> sc.defaultParallelism,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "jvm_version" -> System.getProperty("java.runtime.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory.toDouble / (1 << 20)),
      "host_before" -> hostBefore,
      "host_after" -> hostAfter,
      "calib_s" -> Seq(calibStart, calibEnd),
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "prepare_s" -> prepareS,
      "warmup_passes" -> warmupCount,
      "warmup_s" -> warmupS,
      "check_pass_s" -> checkS,
      "timed_s" -> timedS,
      "retained_heap_mb" -> retainedMb,
      "failed" -> failed.toMap,
      "oracle_sql" -> oracle,
      "passes" -> passes.map { case (p, t, s) =>
        Map("pass" -> p, "traced" -> t, "wall_s" -> s) },
      "samples" -> samples.map(s => Map(
        "query" -> s.query, "pass" -> s.pass, "traced" -> s.traced,
        "build_s" -> s.buildS, "total_s" -> s.totalS,
        "cached_rdds_left" -> s.cachedLeft)))
    tracer.foreach { t =>
      val (layers, spans) = t.finish(passes.count(_._2))
      val (tracedWall, plainWall) = passes.partition(_._2)
      val overhead = "trace_overhead" ->
        tracedWall.map(_._3).sum / tracedWall.size /
          (plainWall.map(_._3).sum / plainWall.size)
      record("per_layer") = layers + overhead
      Files.write(Paths.get(conf("trace_out")),
        Json(spans + overhead).getBytes(UTF_8))
    }
    Files.write(Paths.get(conf("out")), Json(record).getBytes(UTF_8))
    spark.stop()
  }
}

/** Minimal JSON writer for the record: maps, sequences, strings,
  * numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
