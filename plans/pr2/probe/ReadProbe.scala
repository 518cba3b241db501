package probe

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts, per query, the jobs launched while the frame is built and
  * how many of them are table-read schema inference (first stage named
  * "parquet at GraftSession.scala:..."), over a cold pass then a warm
  * pass in one session. Jobs are attributed to build windows by start
  * time, as the benchmark's tracer does (eager jobs run on pool threads).
  * mode=seq builds one query at a time; mode=conc runs the cold pass
  * `cpus` at a time like the benchmark's check pass.
  * Usage: ReadProbe data cpus mode q1,q2,... [passes, default 2] */
object ReadProbe {
  def main(args: Array[String]): Unit = {
    val Array(data, cpusS, mode, qs) = args.take(4)
    val passes = args.lift(4).map(_.toInt).getOrElse(2)
    val cpus = cpusS.toInt
    val queries = qs.split(",").toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]").appName("probe")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[(Long, Boolean)]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.add(e.time -> e.stageInfos.exists(
          _.name.startsWith("parquet at GraftSession.scala")))
    })
    val entries = graft.SparkEntry.queries
    // key -> (build start ms, build end ms, build s)
    val win = new ConcurrentHashMap[String, (Long, Long, Double)]()
    def one(q: String, pass: Int): Unit = {
      val m0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val df = entries(q)(spark, data)
      val b = (System.nanoTime() - t0) / 1e9
      win.put(s"$q#$pass", (m0, System.currentTimeMillis(), b))
      df.write.format("noop").mode("overwrite").save()
    }
    val p0 = System.currentTimeMillis()
    if (mode == "conc") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
      queries.map(q => pool.submit[Unit](() => one(q, 1))).foreach(_.get())
      pool.shutdown()
    } else queries.foreach(one(_, 1))
    val p1 = System.currentTimeMillis()
    spark.catalog.clearCache()
    for (pass <- 2 to passes; q <- queries) { one(q, pass); spark.catalog.clearCache() }
    Thread.sleep(2000)  // let the listener bus drain
    val ev = events.asScala.toSeq
    def in(a: Long, b: Long) = ev.filter { case (t, _) => t >= a && t <= b }
    val all = in(p0, p1)
    println(s"pass=1 WHOLE jobs=${all.size} infer_jobs=${all.count(_._2)} " +
      s"wall_s=${(p1 - p0) / 1e3}")
    for (pass <- 1 to passes) {
      val rows = queries.map { q =>
        val (a, b, s) = win.get(s"$q#$pass"); val e = in(a, b)
        (q, e.size, e.count(_._2), s)
      }
      if (mode != "conc" || pass == 2) rows.foreach { case (q, j, i, b) =>
        println(f"pass=$pass query=$q build_jobs=$j infer_jobs=$i build_s=$b%.3f") }
      println(f"pass=$pass TOTAL build_jobs=${rows.map(_._2).sum} " +
        f"infer_jobs=${rows.map(_._3).sum} build_s=${rows.map(_._4).sum}%.3f")
    }
    spark.stop()
  }
}
