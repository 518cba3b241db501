package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.GraftFrame
import graft.llm.{Dedup, Similarity, TextStats}
import graft.operators.{Joins, WindowOps}

/** Degenerate-input behavior: empty frames, single rows, short strings —
  * the inputs a 100 TB pipeline inevitably contains somewhere. */
class EdgeCasesSpec extends SparkTestBase {

  private def empty = GraftFrame(kv())
  private def one = GraftFrame(kv((1L, "a", 5.0)))

  test("row ops on empty frames") {
    assert(empty.filter(col("v") > 0).df.count() == 0)
    assert(empty.select("id", "v").df.count() == 0)
    assert(empty.distinct.df.count() == 0)
    assert(empty.concat(one).df.count() == 1)
    assert(empty.sortValues(Seq("id" -> true)).head(5).df.count() == 0)
    assert(empty.tail(5, Seq("id" -> true)).df.count() == 0)
  }

  test("groupby on empty frame yields no groups") {
    assert(empty.groupby("k").agg(sum("v").as("s")).df.count() == 0)
    assert(empty.groupby("k").count().df.count() == 0)
  }

  test("merge with an empty side") {
    assert(Joins.merge(empty.df, one.df, Seq("id"), "inner").count() == 0)
    assert(Joins.merge(empty.df, one.df, Seq("id"), "outer").count() == 1)
    assert(Joins.merge(one.df, empty.df, Seq("id"), "left").count() == 1)
  }

  test("asofJoin with empty right keeps all left rows with nulls") {
    val out = Joins.asofJoin(one.df.withColumnRenamed("v", "lv"),
      empty.df.withColumnRenamed("v", "rv").select("id", "k", "rv")
        .withColumnRenamed("id", "t2"),
      "id", "t2", Seq("k"))
    assert(out.count() == 1)
    assert(out.collect().head.isNullAt(out.columns.indexOf("rv")))
  }

  test("globalCumSum on empty and single-row frames") {
    assert(WindowOps.globalCumSum(empty.df, "id", "v", "cs").count() == 0)
    val r = WindowOps.globalCumSum(one.df, "id", "v", "cs").collect()
    assert(r.length == 1 && r.head.getDouble(r.head.fieldIndex("cs")) == 5.0)
  }

  test("globalFfill with all-null and single-value columns") {
    val d = kv((1L, "a", 0.0), (2L, "a", 0.0))
      .withColumn("v", lit(null).cast(DoubleType))
    val out = WindowOps.globalFfill(d, "id", "v", "ff").collect()
    assert(out.forall(_.isNullAt(out.head.fieldIndex("ff"))))
  }

  test("minhash on short and empty texts") {
    val docs = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(1L, ""), Row(2L, "one"), Row(3L, "two words"),
      Row(4L, "three word doc"), Row(5L, "three word doc"))
    // <3 tokens -> no shingles -> excluded; identical 3-token docs pair up
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.5).collect()
    assert(pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet ==
      Set((4L, 5L)))
    val sigs = Dedup.signatures(docs, "doc_id", "text")
    assert(sigs.filter(size(col("shingles")) > 0).count() == 2) // only the 3-token docs shingle
  }

  test("exact dedup on empty frame") {
    val docs = df(StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
    assert(Dedup.exact(docs, "doc_id", "text").count() == 0)
  }

  test("text stats on empty string") {
    val d = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(1L, ""))
    val r = TextStats.qualityFrame(d, "doc_id", "text", Seq("the")).collect().head
    // split('', -1) yields one empty token
    assert(r.getAs[Int]("n_tokens") == 1)
    assert(r.getAs[Int]("n_chars") == 0)
  }

  test("cosine of zero vector is null, not an ANSI divide-by-zero error") {
    val sch = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val e = df(sch, Row(0L, Seq(0.0f, 0.0f)), Row(1L, Seq(1.0f, 0.0f)))
    val r = Similarity.bruteForceTopK(e, "vec_id", "embedding", 0L, 1).collect()
    assert(r.length == 1 && r.head.isNullAt(1))
  }

  test("mapOverlap on a single-partition single-row frame") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("echo", DoubleType)))
    val out = one.mapOverlap("id", 1, 0, schema) { it =>
      it.collect { case (true, row) => Row(row.getLong(0), row.getDouble(2)) }
    }
    assert(out.df.collect().toSeq == Seq(Row(1L, 5.0)))
  }

  test("repartitionByDivisions: each bucket lands in exactly one partition") {
    val divs = Seq(25L, 50L, 75L)
    val d = GraftFrame(kv((1L to 100L).map(i => (i, "k", i.toDouble)): _*))
      .repartitionByDivisions("id", divs)
    val rows = d.df
      .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
      .collect()
    assert(rows.length == 100)
    val bucketOf = (id: Long) => divs.count(id >= _)
    val partsPerBucket = rows.groupBy(r => bucketOf(r.getLong(0)))
      .view.mapValues(_.map(_.getInt(3)).toSet).toMap
    assert(partsPerBucket.keySet == Set(0, 1, 2, 3))
    assert(partsPerBucket.values.forall(_.size == 1),
      s"bucket spread over partitions: $partsPerBucket")
  }

  test("repartitionByDivisions: bucket-i->partition-i holds under heavy skew") {
    // 97% of rows in one bucket: sampled range partitioning would merge
    // the small buckets into one partition and leave others empty; the
    // identity partitioner must still place bucket i in partition i
    val divs = Seq(10L, 20L, 30L)
    val skewed = (1L to 9L) ++ (10L to 19L).take(2) ++ (20L to 29L).take(1) ++
      (30L to 1000L)
    val d = GraftFrame(kv(skewed.map(i => (i, "k", i.toDouble)): _*))
      .repartitionByDivisions("id", divs)
    val rows = d.df
      .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
      .collect()
    assert(rows.length == skewed.length)
    val bucketOf = (id: Long) => divs.count(id >= _)
    rows.foreach { r =>
      assert(r.getInt(3) == bucketOf(r.getLong(0)),
        s"id ${r.getLong(0)} in partition ${r.getInt(3)}, expected bucket ${bucketOf(r.getLong(0))}")
    }
  }

  test("sampleByHash fraction bounds") {
    val d = GraftFrame(kv((1L to 100L).map(i => (i, "k", 1.0)): _*))
    assert(d.sampleByHash("id", 0.0).df.count() == 0)
    assert(d.sampleByHash("id", 1.0).df.count() == 100)
  }

  test("mapOverlap cascades boundary rows past partitions smaller than the window") {
    // 40 rows spread over ~32 range partitions → most partitions hold 1-2
    // rows, far fewer than before=5: correct rolling sums REQUIRE boundary
    // rows to cascade across several successor partitions (r2 ADVICE
    // found adjacent-only forwarding silently wrong here)
    val rows = (1L to 40L).map(i => (i, "k", i.toDouble))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val d = kv(rows: _*)
      val got = WindowOps.globalRollingSum(d.select(col("id"), col("v")), "id", "v", 5, "rs")
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val expect = (1L to 40L).map { i =>
        i -> (math.max(1L, i - 4) to i).map(_.toDouble).sum
      }.toMap
      assert(got == expect)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("sampleByHash on keys > 2^33 doesn't overflow and samples ~fraction") {
    // pre-fix, key * 2654435761 wrapped (and throws under ANSI) for keys
    // >= ~3.5e9; the 31-bit mask keeps the product inside Long for any key
    val big = (0L until 2000L).map(i => ((1L << 33) + i * 7919L, "k", 1.0))
    val d = GraftFrame(kv(big: _*))
    val n = d.sampleByHash("id", 0.25).df.count()
    assert(n > 300 && n < 700, s"expected ~500 of 2000, got $n")
    assert(d.sampleByHash("id", 1.0).df.count() == 2000)
  }

  test("diffWith classifies adds/removes/changes and discriminates null shifts") {
    val v1 = kv((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
    val v2 = kv((1L, "a", 1.0), (3L, "c", 9.0), (4L, "d", 4.0))
    val got = GraftFrame(v1).diffWith(GraftFrame(v2), Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "removed", 3L -> "changed", 4L -> "added"))
    // a null moving BETWEEN columns is a change, not an equality — the
    // sentinel+separator signature must not conflate (null,x) with (x,null)
    val sch = kvSchema
    val n1 = df(sch, Row(7L, null, 5.0))
    val n2 = df(sch, Row(7L, "5.0", null))
    val nulls = GraftFrame(n1).diffWith(GraftFrame(n2), Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(nulls == Map(7L -> "changed"), s"null shift conflated: $nulls")
    // identical frames produce an EMPTY diff
    assert(GraftFrame(v1).diffWith(GraftFrame(v1), Seq("id")).isEmpty)
    // null keys match null-safely: an identical null-keyed row is NOT a
    // spurious add+remove pair, and a changed one reports 'changed'
    val k1 = df(sch, Row(null, "a", 1.0))
    val k2same = df(sch, Row(null, "a", 1.0))
    val k2chg = df(sch, Row(null, "a", 2.0))
    assert(GraftFrame(k1).diffWith(GraftFrame(k2same), Seq("id")).isEmpty)
    val nk = GraftFrame(k1).diffWith(GraftFrame(k2chg), Seq("id")).collect()
    assert(nk.length == 1 && nk(0).isNullAt(0) && nk(0).getString(1) == "changed")
    // mismatched non-key columns refuse loudly
    intercept[IllegalArgumentException] {
      GraftFrame(v1).diffWith(GraftFrame(v1.drop("v")), Seq("id"))
    }
  }

  test("align with an empty side fills every key from the other") {
    val (l, r) = empty.align(one, Seq("id"), "outer", Some(lit(0.0)))
    assert(l.df.count() == 1 && r.df.count() == 1)
    assert(l.df.collect()(0).getDouble(2) == 0.0) // left v filled
    val (li, ri) = empty.align(one, Seq("id"), "inner")
    assert(li.df.count() == 0 && ri.df.count() == 0)
  }

  test("categorical on empty and all-null columns") {
    import graft.api.GraftCategorical
    val cat = GraftCategorical(empty.df, "k").asKnown
    assert(cat.categories.count() == 0)
    assert(cat.codes.count() == 0)
    val nulls = df(kvSchema, Row(1L, null, 1.0), Row(2L, null, 2.0))
    val catN = GraftCategorical(nulls, "k").asKnown
    assert(catN.categories.count() == 0) // nulls are not a category
    assert(catN.codes.collect().forall(_.getInt(3) == -1))
  }

  test("embeddingNearDupPairs survives zero-norm vectors (no ANSI DBZ)") {
    import org.apache.spark.sql.functions.{array, lit}
    // two identical unit vectors (a true pair) plus two zero vectors
    // that land in the same all-zero-sign LSH bucket: the pipeline must
    // drop the zero-norm candidates as null-cos, not raise DIVIDE_BY_ZERO
    val rows = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)), (2L, Array(1.0, 0.0, 0.0, 0.0)),
      (3L, Array.fill(4)(0.0)), (4L, Array.fill(4)(0.0)))
    val d = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(d, "vec_id", "embedding", 4, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("shuffleIndex is a permutation; splitByHash is row-stable") {
    val d = GraftFrame(kv((1L to 50L).map(i => (i, s"s$i", i.toDouble)): _*))
    val pos = d.shuffleIndex("id").df.collect().map(_.getAs[Long]("shuffle_pos"))
    assert(pos.sorted.toSeq == (0L until 50L)) // exactly 0..n-1, each once
    // a row's split must not change when OTHER rows appear (hash, not rank)
    val s50 = d.splitByHash("id", 0.6, 0.2).df.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("split")).toMap
    val s99 = GraftFrame(kv((1L to 99L).map(i => (i, s"s$i", i.toDouble)): _*))
      .splitByHash("id", 0.6, 0.2).df.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("split")).toMap
    assert((1L to 50L).forall(i => s50(i) == s99(i)))
    assert(s99.values.toSet.size == 3) // all three splits occupied at n=99
    // string keys must refuse loudly: `key + seed` on a string yields
    // null hashes (degenerate permutation) or throws under ANSI
    val e = intercept[IllegalArgumentException] {
      d.shuffleIndex("k")
    }
    assert(e.getMessage.contains("numeric"))
    // masked addends: huge keys + huge seed stay inside Long and still
    // produce a full permutation
    val big = GraftFrame(kv((1L to 20L)
      .map(i => (Long.MaxValue - i, s"s$i", i.toDouble)): _*))
    val bp = big.shuffleIndex("id", seed = Long.MaxValue - 3L)
      .df.collect().map(_.getAs[Long]("shuffle_pos"))
    assert(bp.sorted.toSeq == (0L until 20L))
    // the seed actually rotates the permutation
    val p0 = d.shuffleIndex("id", seed = 0L).df.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_pos")).toMap
    val p9 = d.shuffleIndex("id", seed = 9L).df.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_pos")).toMap
    assert(p0 != p9)
  }

  test("sessionize NTZ gaps are session-timezone independent across DST") {
    // Two NTZ events straddle the US spring-forward (2024-03-10 02:00 in
    // America/Los_Angeles): 100 wall-clock minutes apart, but only 40
    // instant-minutes if the wall clock is interpreted in LA. With a
    // 60-minute gap the old LTZ-cast arithmetic would keep them in ONE
    // session under an LA session timezone while splitting them under
    // UTC; the wall-clock-field arithmetic must split them everywhere.
    val sch = StructType(Seq(StructField("uid", LongType),
      StructField("ts", TimestampNTZType), StructField("eid", LongType)))
    val d = df(sch,
      Row(1L, java.time.LocalDateTime.parse("2024-03-10T01:30:00"), 1L),
      Row(1L, java.time.LocalDateTime.parse("2024-03-10T03:10:00"), 2L))
    def run(): Map[Long, Long] =
      WindowOps.sessionize(d, Seq("uid"), "ts", 3600L, "eid")
        .collect().map(r => r.getAs[Long]("eid") -> r.getAs[Long]("session_id")).toMap
    val prev = spark.conf.get("spark.sql.session.timeZone")
    val utc = run()
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      assert(run() == utc, "session assignment changed with the session timezone")
      assert(utc(2L) == utc(1L) + 1, "100-min wall gap must start a new session")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("embedding mega-bucket is split: pair join bounded, pairs still found") {
    // 40 identical vectors collapse into one LSH bucket; with
    // maxBucketSize=8 the bucket splits into ~5 salt groups so the pair
    // join is bounded — not the full 40·39/2 quadratic list
    val rows = (1L to 40L).map(i => (i, Array(1.0, 0.0, 0.0, 0.0)))
    val d = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val capped = Dedup.embeddingNearDupPairs(d, "vec_id", "embedding", 4, 0.9,
      maxBucketSize = 8).count()
    val full = 40L * 39 / 2
    assert(capped > 0 && capped < full, s"got $capped, quadratic is $full")
    val uncapped = Dedup.embeddingNearDupPairs(d, "vec_id", "embedding", 4, 0.9).count()
    assert(uncapped == full)
  }

  test("dot_double treats null array elements as 0 in both eval paths") {
    import org.apache.spark.sql.functions.{array, lit, when, col => c}
    val d = kv((1L, "a", 1.0))
      .withColumn("x", array(lit(2.0), when(c("v") < 0, 1.0), lit(3.0)))
      .withColumn("y", array(lit(5.0), lit(7.0), lit(11.0)))
    val got = d.select(
      graft.functions.TextHashExprs.dotDouble(c("x"), c("y")).as("d"))
      .head().getDouble(0)
    assert(got == 2.0 * 5.0 + 3.0 * 11.0) // null slot contributes 0
  }

  test("getPartition covers the frame exactly once; medianApprox near exact") {
    val d = GraftFrame(kv((1L to 100L).map(i => (i, "k", i.toDouble)): _*))
      .repartition(4)
    val total = (0 until 4).map(i => d.getPartition(i).df.count()).sum
    assert(total == 100)
    val m = graft.operators.Reductions.medianApprox(d.df, "v")
      .head().getDouble(0)
    assert(math.abs(m - 50.0) <= 2.0)
  }

  test("ranking functions on single-row partitions") {
    val d = kv((1L, "a", 5.0), (2L, "b", 7.0))
    val out = d
      .withColumn("rnk", WindowOps.rank("v", Seq("k")))
      .withColumn("pr", WindowOps.percentRank("v", Seq("k")))
      .withColumn("nt", WindowOps.ntileN(4, "id", Seq("k")))
      .collect()
    assert(out.forall(r => r.getInt(3) == 1 && r.getDouble(4) == 0.0 &&
      r.getInt(5) == 1))
  }

  test("round-5 APIs on degenerate inputs") {
    // locRange on empty frame / no-match range
    val idx = GraftFrame(kv((1L, "a", 1.0), (5L, "b", 2.0))).setIndex("id")
    assert(idx.locRange(Some(2L), Some(4L)).df.count() == 0)
    assert(GraftFrame(kv()).setIndex("id").locRange(Some(0L), None).df.count() == 0)
    // qualityRules: empty corpus and single-token docs don't throw
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    assert(TextStats.qualityRules(df(docsSchema), "doc_id", "text").count() == 0)
    val short = TextStats.qualityRules(
      df(docsSchema, Row(1L, "solo"), Row(2L, "")), "doc_id", "text").collect()
    assert(short.length == 2 &&
      short.forall(r => !r.getBoolean(r.fieldIndex("keep"))))
    // stratified sample: unknown stratum takes the default rate
    val strat = GraftFrame(
      df(docsSchema, Row(1L, "x"), Row(2L, "y")).withColumnRenamed("text", "src"))
    assert(strat.sampleByHashStratified("doc_id", "src",
      Map("absent" -> 1.0), default = 0.0).df.count() == 0)
    assert(strat.sampleByHashStratified("doc_id", "src",
      Map.empty, default = 1.0).df.count() == 2)
    // centroids of an empty group set
    val embSchema = StructType(Seq(
      StructField("g", StringType),
      StructField("vec", ArrayType(DoubleType))))
    assert(Similarity.groupCentroids(df(embSchema), "g", "vec").count() == 0)
    val c = Similarity.groupCentroids(
      df(embSchema, Row("a", Seq(1.0, 3.0)), Row("a", Seq(3.0, 5.0))), "g", "vec")
      .collect().head.getSeq[Double](1)
    assert(c == Seq(2.0, 4.0))
  }

  test("late-round-5 APIs on degenerate inputs") {
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val empty = df(docsSchema)
    val some = df(docsSchema, Row(1L, "a b c d e f"), Row(2L, "x"))
    // decontaminate: empty bench flags nothing; empty train yields nothing
    assert(graft.llm.Dedup.contaminationReport(some, empty, "doc_id", "text").count() == 0)
    assert(graft.llm.Dedup.decontaminate(some, empty, "doc_id", "text").count() == 2)
    assert(graft.llm.Dedup.decontaminate(empty, some, "doc_id", "text").count() == 0)
    // histogram: empty frame and out-of-range-only values give empty output;
    // bad bounds refuse
    val vals = kv((1L, "a", 5.0), (2L, "a", 500.0))
    assert(graft.operators.Reductions.histogram(kv(), "v", 0.0, 1.0, 4).count() == 0)
    assert(graft.operators.Reductions.histogram(
      vals.filter(col("v") > 100), "v", 0.0, 10.0, 4).count() == 0)
    intercept[IllegalArgumentException] {
      graft.operators.Reductions.histogram(vals, "v", 5.0, 5.0, 4) }
    intercept[IllegalArgumentException] {
      graft.operators.Reductions.histogram(vals, "v", 0.0, 1.0, 0) }
    // dropRepeatedLines: empty text round-trips; null text row is dropped
    // by the explode (posexplode of split(null) emits no rows)
    val lines = graft.llm.TextStats.dropRepeatedLines(
      df(docsSchema, Row(1L, ""), Row(2L, null)), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lines == Map(1L -> ""))
    // redactPii: null in, null out
    val red = df(docsSchema, Row(1L, null))
      .select(graft.llm.TextStats.redactPii(col("text"))).collect().head
    assert(red.isNullAt(0))
    // fromDict refuses ragged/empty input
    intercept[IllegalArgumentException] { GraftFrame.fromDict(spark, Nil) }
    intercept[IllegalArgumentException] {
      GraftFrame.fromDict(spark, Seq("a" -> Seq(1), "b" -> Seq(1, 2))) }
  }

  test("simhashNearDupPairs equals brute-force Hamming pairs (pigeonhole completeness)") {
    // default r12 geometry: 64-bit signatures, hammingK=3 (4 x 16-bit
    // bands) — below the bucket cap the banding must be EXACT
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 300)
    val sigs = Dedup.simhashGroups(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h)).toSet
    val got = Dedup.simhashNearDupPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute,
      s"banding must find EXACTLY the Hamming<=3 pairs: missing " +
        s"${brute -- got}, extra ${got -- brute}")
    assert(brute.nonEmpty, "fixture must contain at least one close pair")
    // banding is a strict candidate filter: distance-4 pairs may share
    // no band and MUST not appear even as candidates that verify
    assert(got.forall(_._3 <= 3))
  }

  test("simhashNearDupPairs: a planted mega-bucket is capped, not quadratic") {
    // 60 IDENTICAL docs + 3 distinct ones: all 60 share every band key,
    // so with maxBucketSize=10 the band self-join must split the bucket
    // into sub-buckets of <= ~10 (the nearDuplicatePairs cap-and-split
    // discipline) instead of forming 60*59/2 pairs per band. Identical
    // docs collide in EVERY band with DIFFERENT salts, so the pair set
    // stays total despite the split only when recovered across bands —
    // here we assert the bound on the join itself via the pair count
    // of the capped run being <= the uncapped one, and that the capped
    // run still finds cross-sub-bucket pairs through the other bands.
    val rows = (0L until 60L).map(i => Row(i, "alpha beta gamma delta epsilon zeta")) ++
      Seq(Row(100L, "totally different text one here"),
        Row(101L, "another unrelated document body"),
        Row(102L, "third standalone piece of prose"))
    val docs = df(StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))), rows: _*)
    val uncapped = Dedup.simhashNearDupPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 60 * 59 / 2,
      "identical docs must all pair in the uncapped run")
    assert(capped.subsetOf(uncapped))
    // the 4 independently-salted bands recover cross-sub-bucket pairs:
    // with a 6-way split per band, P(pair kept) = 1 - (5/6)^4 ~ 52%,
    // so a healthy capped run keeps a large fraction (and downstream
    // transitive label propagation recovers full connectivity)
    assert(capped.size >= uncapped.size / 3,
      s"capped run lost too many pairs: ${capped.size}/${uncapped.size}")
    // and the join itself was bounded: every (band, key, salt) group in
    // the capped plan holds <= ceil(60/10)=6-way-split buckets — assert
    // indirectly via a salt-grouped recount of the banded frame
    import graft.llm.TextHash
    val sh = docs.select(col("doc_id"),
      TextHash.simhash(col("text"), 64).as("sh"))
    val bandCounts = sh.select(explode(array((0 to 3).map(b =>
        shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(65535L))): _*))
        .as("key"))
      .groupBy("key").count().collect().map(_.getLong(1))
    assert(bandCounts.max >= 60,
      "fixture must actually degenerate at least one bucket")
  }

  test("sampleByTemperature: alpha=1 natural mix, alpha=0 equalizes, smallest domain lossless") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType)))
    // head domain 4000 rows, mid 1000, tail 50 — ids interleaved so the
    // hash decision is independent of the domain layout
    val rows = (0L until 5050L).map { i =>
      val src = if (i % 101 < 80) "head" else if (i % 101 < 100) "mid" else "tail"
      Row(i, src)
    }
    val docs = GraftFrame(df(schema, rows: _*))

    assert(docs.sampleByTemperature("doc_id", "source", 1.0).df.count() == 5050,
      "alpha=1 must keep the natural mix (everything)")

    val flat = docs.sampleByTemperature("doc_id", "source", 0.0).df
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tailCount = rows.count(_.getString(1) == "tail")
    assert(flat("tail") == tailCount, "smallest domain must keep all rows")
    // expected kept count per domain == tail size; binomial noise bound
    flat.foreach { case (s, n) =>
      assert(math.abs(n - tailCount) <= 3 * math.sqrt(tailCount.toDouble),
        s"alpha=0 must equalize expected counts: $s kept $n vs ~$tailCount")
    }

    val mixed = docs.sampleByTemperature("doc_id", "source", 0.5).df
    val again = docs.sampleByTemperature("doc_id", "source", 0.5).df
    assert(mixed.orderBy("doc_id").collect().map(_.getLong(0)).toSeq ==
      again.orderBy("doc_id").collect().map(_.getLong(0)).toSeq,
      "deterministic: no RNG anywhere")
    assert(mixed.columns.toSeq == Seq("doc_id", "source"),
      "schema preserved in original order")

    // interior alpha through pow: monotone between the endpoints
    val kept07 = docs.sampleByTemperature("doc_id", "source", 0.7).df.count()
    assert(mixed.count() <= kept07 && kept07 <= 5050,
      "higher alpha keeps more of the head")

    intercept[IllegalArgumentException] {
      docs.sampleByTemperature("doc_id", "source", 1.5)
    }
  }

  test("upsampleByTemperature: largest domain kept once, tail repeats, cap engages, deterministic") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType)))
    val rows = (1L to 400L).map(i => Row(i, "head")) ++
      (1001L to 1100L).map(i => Row(i, "mid")) ++   // f = sqrt(4) = 2
      (2001L to 2004L).map(i => Row(i, "tiny"))     // f = 10 (capped from 10)
    val docs = GraftFrame(df(schema, rows: _*))
    val out = docs.upsampleByTemperature("doc_id", "source", 0.5,
      maxRepeat = 5).df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySource = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySource("head") == 400, "largest domain keeps exactly one copy")
    assert(bySource("mid") == 200,
      s"integral factor 2 doubles the domain exactly: $bySource")
    // tiny: f = sqrt(400/4) = 10 -> capped at 5 -> exactly 5 copies each
    assert(bySource("tiny") == 20,
      s"cap must bound the repeat factor: $bySource")
    // epochs are dense from 0 and every original row survives at epoch 0
    assert(out.filter(_._3 == 0L).map(_._1).toSet.size == 504)
    assert(out.forall(_._3 >= 0) && out.filter(_._2 == "mid")
      .groupBy(_._1).forall(_._2.map(_._3).sorted.sameElements(Seq(0L, 1L))))
    // deterministic: identical output across runs
    val again = docs.upsampleByTemperature("doc_id", "source", 0.5,
      maxRepeat = 5).df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.sorted.sameElements(again.sorted))
    // alpha = 1 is the identity (plus the epoch column)
    assert(docs.upsampleByTemperature("doc_id", "source", 1.0).df.count()
      == 504)
  }

  test("sampleByBudget: each domain hits its target mass, absent domains drop, zero budget drops, integral factors are exact, deterministic") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("tokens", LongType)))
    val rows =
      (1L to 1000L).map(i => Row(i, "web", 10L)) ++      // W = 10000
      (2001L to 2100L).map(i => Row(i, "books", 10L)) ++ // W = 1000
      (3001L to 3010L).map(i => Row(i, "junk", 10L)) ++  // W = 100
      (4001L to 4010L).map(i => Row(i, "unlisted", 10L))
    val docs = GraftFrame(df(schema, rows: _*))
    val budgets = Map("web" -> 4000L,   // f = 0.4 down
      "books" -> 2500L,                 // f = 2.5 up
      "junk" -> 0L)                     // explicit drop
    val out = docs.sampleByBudget("doc_id", "source", "tokens", budgets)
      .df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val mass = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // down-sampled web lands near its 4000-token budget (hash variance)
    assert(mass("web") > 3200 && mass("web") < 4800, s"web mass: $mass")
    // up-sampled books: 2 whole epochs exact + ~half a fractional epoch
    assert(mass("books") >= 2000 && mass("books") < 3000,
      s"books mass: $mass")
    assert(!mass.contains("junk") && !mass.contains("unlisted"))
    // every books row has epochs 0 and 1 (the exact whole copies)
    val booksEpochs = docs.sampleByBudget("doc_id", "source", "tokens",
        budgets).df.filter(col("source") === "books")
      .select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    for (id <- 2001L to 2100L)
      assert(booksEpochs.filter(_._1 == id).map(_._2).sorted
        .startsWith(Seq(0L, 1L)), s"whole copies missing for $id")
    // an exactly-integral factor emits exactly f copies: budget == 2W
    val exact = docs.sampleByBudget("doc_id", "source", "tokens",
        Map("junk" -> 200L)).df
    assert(exact.count() == 20L, "f=2.0 doubles the domain exactly")
    // deterministic across runs
    val again = docs.sampleByBudget("doc_id", "source", "tokens", budgets)
      .df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.sorted.sameElements(again.sorted))
    // pass-through: budget == own mass keeps every row exactly once
    val pass = docs.sampleByBudget("doc_id", "source", "tokens",
      Map("books" -> 1000L)).df
    assert(pass.count() == 100L &&
      pass.select("epoch").distinct().head().getLong(0) == 0L)
    intercept[IllegalArgumentException] {
      docs.sampleByBudget("doc_id", "source", "tokens", Map.empty)
    }
    intercept[IllegalArgumentException] {
      docs.sampleByBudget("doc_id", "source", "tokens", Map("web" -> -1L))
    }
  }

  test("sampleBySystematic: exactly n copies, mass-proportional, heavy rows certain, deterministic") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("w", LongType)))
    // 1 heavy row (w=500) among 999 light rows (w=1): W=1499
    val rows = Row(1L, 500L) +: (2L to 1000L).map(i => Row(i, 1L))
    val docs = GraftFrame(df(schema, rows: _*))
    val out = docs.sampleBySystematic("doc_id", "w", n = 100L)
      .df.select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // systematic guarantee: output size is EXACTLY n
    assert(out.length == 100, s"got ${out.length}")
    // the heavy row earns floor-or-ceil of n*w/W = 33.35 copies, with
    // consecutive epochs 0..m-1
    val heavy = out.filter(_._1 == 1L).map(_._2).sorted
    assert(heavy.length == 33 || heavy.length == 34, s"${heavy.length}")
    assert(heavy.toSeq == (0L until heavy.length.toLong))
    // light rows earn at most 1 copy each
    assert(out.filter(_._1 != 1L).forall(_._2 == 0L))
    // deterministic across runs and repartitionings
    val again = GraftFrame(df(schema, rows: _*).repartition(7))
      .sampleBySystematic("doc_id", "w", n = 100L)
      .df.select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.sorted.toSeq == again.sorted.toSeq)
    // seed rotates the traversal (different marginal winners among the
    // light rows) while keeping exactly n
    val seeded = docs.sampleBySystematic("doc_id", "w", 100L, seed = 9L)
      .df.count()
    assert(seeded == 100L)
    // zero/negative weights never select
    val wz = GraftFrame(df(schema,
      Row(1L, 10L), Row(2L, 0L), Row(3L, -5L)))
    val kept = wz.sampleBySystematic("doc_id", "w", 5L)
      .df.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
    // extreme masses cannot overflow: cum·n rides DECIMAL(38,0)
    val big = GraftFrame(df(schema,
      Row(1L, Long.MaxValue / 2), Row(2L, Long.MaxValue / 3)))
    assert(big.sampleBySystematic("doc_id", "w", 1000L).df.count()
      == 1000L)
    // string key refuses
    intercept[IllegalArgumentException] {
      GraftFrame(kv((1L, "a", 1.0))).sampleBySystematic("k", "v", 1L)
    }
  }

  test("BudgetMix rides the Pipeline: budget_mix observation, composite positions, exclusive with TemperatureMix") {
    import graft.llm.Pipeline
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("tokens", LongType),
      StructField("dom", StringType)))
    // prose long enough to clear the rule-quality gate; two near-dup
    // rows so every pretrainCorpusObserved stage resolves
    val rows = (1L to 30L).map(i => Row(i,
      s"document number $i speaks plainly about spark shuffles rows and joins today",
      10L, if (i <= 20) "web" else "books")) ++ Seq(
      Row(50L, "the exact same sentence repeated for the near dup detector to find alright", 10L, "web"),
      Row(51L, "the exact same sentence repeated for the near dup detector to find okay", 10L, "books"))
    val docs = df(schema, rows: _*)
    val bench = df(StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))),
      Row(900L, "benchmark text sharing absolutely nothing relevant"))
    val bm = Pipeline.BudgetMix("dom", "tokens",
      Map("web" -> 100L, "books" -> 200L)) // web ~halves, books ~doubles
    val (out, obs) = Pipeline.pretrainCorpusObserved(docs, bench,
      "doc_id", "text", budgetMix = Some(bm))
    val got = out.select("doc_id", "dom", "epoch", "split", "shuffle_pos")
      .collect()
    // positions are dense and unique across copies (composite keying)
    val pos = got.map(_.getLong(4)).sorted
    assert(pos.toSeq == (0L until got.length).toSeq,
      s"dense unique positions: ${pos.toSeq}")
    // all copies of a doc share a split
    assert(got.groupBy(_.getLong(0))
      .forall(_._2.map(_.getString(3)).distinct.length == 1))
    // the budget_mix observation equals the output rows
    assert(obs("budget_mix").get("rows") == got.length.toLong)
    // books up-sampled (epochs > 0 exist), web down-sampled (epoch 0 only)
    assert(got.filter(_.getString(1) == "books").exists(_.getLong(2) > 0L))
    assert(got.filter(_.getString(1) == "web").forall(_.getLong(2) == 0L))
    intercept[IllegalArgumentException] {
      Pipeline.pretrainCorpus(docs, bench, "doc_id", "text",
        budgetMix = Some(bm),
        temperatureMix = Some(Pipeline.TemperatureMix("dom", 0.5)))
    }
  }

  test("ImportanceMix rides the Pipeline: exact n, importance_mix tap, composite positions, exclusivity") {
    import graft.llm.Pipeline
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("wgt", LongType)))
    // one heavy doc among light ones: systematic certainty shows as
    // multiple epochs for the heavy row
    val rows = (1L to 30L).map(i => Row(i,
      s"document number $i speaks plainly about spark shuffles rows and joins today",
      if (i == 7L) 300L else 10L)) ++ Seq(
      Row(50L, "the exact same sentence repeated for the near dup detector to find alright", 10L),
      Row(51L, "the exact same sentence repeated for the near dup detector to find okay", 10L))
    val docs = df(schema, rows: _*)
    val bench = df(StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))),
      Row(900L, "benchmark text sharing absolutely nothing relevant"))
    val im = Pipeline.ImportanceMix("wgt", n = 20L)
    val (out, obs) = Pipeline.pretrainCorpusObserved(docs, bench,
      "doc_id", "text", importanceMix = Some(im))
    val got = out.select("doc_id", "epoch", "split", "shuffle_pos")
      .collect()
    // systematic output is EXACTLY n copies
    assert(got.length == 20, s"got ${got.length}")
    // the heavy doc earns multiple copies; positions dense + unique
    assert(got.filter(_.getLong(0) == 7L).length > 1)
    val pos = got.map(_.getLong(3)).sorted
    assert(pos.toSeq == (0L until 20L))
    // copies share a split; the tap equals the output rows
    assert(got.groupBy(_.getLong(0))
      .forall(_._2.map(_.getString(2)).distinct.length == 1))
    assert(obs("importance_mix").get("rows") == 20L)
    // equivalence with the standalone op over the non-mixed chain
    val clean = Pipeline.pretrainCorpus(docs, bench, "doc_id", "text",
      persistStages = false)
    val expect = GraftFrame(clean.select("doc_id", "wgt"))
      .sampleBySystematic("doc_id", "wgt", 20L)
      .df.select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      == expect.toSeq)
    // one mixing stage per build
    intercept[IllegalArgumentException] {
      Pipeline.pretrainCorpus(docs, bench, "doc_id", "text",
        importanceMix = Some(im),
        budgetMix = Some(Pipeline.BudgetMix("wgt", "wgt", Map("x" -> 1L))))
    }
  }

  test("sampleByTemperatureWeighted: a zero-weight domain is dropped, not a silent global wipe") {
    // r11 ADVICE: a domain whose weights sum to 0 (all-empty docs) made
    // c_min = 0, flooring every threshold to 0 and emptying the output.
    // Contract now: non-positive-weight domains drop like NULL domains;
    // the remaining invariants (smallest positive domain lossless,
    // alpha=1 keeps everything else) hold.
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("tokens", LongType)))
    val rows =
      (1L to 40L).map(i => Row(i, "big", 10L)) ++     // W = 400
      (101L to 110L).map(i => Row(i, "small", 20L)) ++ // W = 200 (= c_min)
      (201L to 205L).map(i => Row(i, "empty", 0L))
    val docs = GraftFrame(df(schema, rows: _*))
    val a1 = docs.sampleByTemperatureWeighted("doc_id", "source", "tokens", 1.0).df
    assert(a1.count() == 50,
      "alpha=1 keeps every positive-weight row; zero-weight domain drops")
    assert(a1.filter(col("source") === "empty").count() == 0)
    val a0 = docs.sampleByTemperatureWeighted("doc_id", "source", "tokens", 0.0).df
    assert(a0.filter(col("source") === "small").count() == 10,
      "smallest positive domain stays lossless")
    assert(a0.filter(col("source") === "empty").count() == 0)
    assert(a0.filter(col("source") === "big").count() > 0,
      "alpha=0 downsamples the head toward the small domain's mass, not to zero-by-accident")
  }

  test("Checks: one-pass report; gate passes clean frames through and names every failing constraint; empty ratios are vacuous") {
    import graft.operators.Checks
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("n", LongType)))
    val clean = df(schema, Row(1L, "aa", 10L), Row(2L, "bb", 20L),
      Row(3L, "cc", 30L))
    val cs = Seq(
      Checks.NotNull("v"), Checks.Unique(Seq("id")),
      Checks.Bounds("n", 5, 50), Checks.InSet("v", Seq("aa", "bb", "cc")),
      Checks.Matches("v", "^[a-c]+$"), Checks.RowCountBetween(1L, 10L),
      Checks.MeanBetween("n", 15.0, 25.0))
    // the whole suite is ONE aggregate pass: a single scan of the source
    val rep = Checks.check(clean, cs)
    assert(rep.columns.toSeq ==
      Seq("constraint", "column", "observed", "lo", "hi", "passed"))
    assert(rep.collect().forall(_.getBoolean(5)), "clean frame must pass")
    val scans = rep.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.LocalTableScanExec => s
      case s: org.apache.spark.sql.execution.SparkPlan
        if s.nodeName.contains("Scan") => s }
    assert(scans.size <= 2,
      s"the suite must not multiply source scans: ${scans.map(_.nodeName)}")
    assert(Checks.requireAll(clean, cs).count() == 3,
      "the gate must pass a clean frame through unchanged")

    // dirty frame: null v, duplicate id, out-of-bounds n, off-alphabet v
    val dirty = df(schema, Row(1L, "aa", 10L), Row(1L, "zz", 999L),
      Row(2L, null, 20L))
    val e = intercept[IllegalStateException] {
      Checks.requireAll(dirty, cs) }
    assert(e.getMessage.contains("not_null(v)") &&
      e.getMessage.contains("unique(id)") &&
      e.getMessage.contains("bounds(n)") &&
      e.getMessage.contains("mean(n)"), e.getMessage)

    // empty frame: every ratio is vacuously 1.0 (pass); row_count and
    // mean are the constraints that MUST catch emptiness
    val empty = df(schema)
    val er = Checks.check(empty, cs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(5)).toMap
    assert(er(("not_null", "v")) && er(("unique", "id")) &&
      er(("bounds", "n")) && er(("in_set", "v")) && er(("matches", "v")),
      s"ratios over an empty frame are vacuous: $er")
    assert(!er(("row_count", "*")), "row_count must catch emptiness")
    assert(!er(("mean", "n")), "NaN mean must fail, not pass")
  }

  test("Checks: Satisfies treats NULL predicates as unsatisfied; requireAllBy names every failing (group, constraint) pair") {
    import graft.operators.Checks
    val schema = StructType(Seq(
      StructField("grp", StringType), StructField("a", LongType),
      StructField("b", LongType)))
    // NULL b makes the predicate NULL -> NOT satisfied (WHERE semantics)
    val d = df(schema,
      Row("x", 1L, 2L), Row("x", 3L, 4L),
      Row("y", 5L, 1L),            // violates a <= b
      Row("y", 6L, null))          // NULL predicate
    val rep = Checks.check(d, Seq(Checks.Satisfies("ordered", "a <= b")))
      .collect().head
    assert(rep.getDouble(2) == 0.5 && !rep.getBoolean(5),
      s"2 of 4 rows satisfy (NULL counts as no): $rep")
    // per-group gate: group x is clean, group y fails twice
    val e = intercept[IllegalStateException] {
      Checks.requireAllBy(d, Seq("grp"), Seq(
        Checks.Satisfies("ordered", "a <= b"),
        Checks.NotNull("b")))
    }
    assert(e.getMessage.contains("[y] satisfies(ordered)") &&
      e.getMessage.contains("[y] not_null(b)") &&
      !e.getMessage.contains("[x]"), e.getMessage)
    // clean per-group contract passes the frame through
    assert(Checks.requireAllBy(d, Seq("grp"),
      Seq(Checks.RowCountBetween(1L, 10L))).count() == 4)
  }

  test("withQuantileTier: cutpoint ties go low, empty frame safe, refusals") {
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("s", LongType)))
    // scores 1..8: quartile cutpoints (interpolated) 2.75 / 4.5 / 6.25
    val d = df(sch, (1L to 8L).map(i => Row(i, i)): _*)
    val tiers = GraftFrame(d).withQuantileTier("s", 4).df
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(tiers == Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1,
      5L -> 2, 6L -> 2, 7L -> 3, 8L -> 3), s"$tiers")
    // a score EXACTLY at a cutpoint lands in the LOWER tier: with all
    // scores equal every cutpoint equals the score, so all tier 0
    val flat = df(sch, (1L to 4L).map(i => Row(i, 7L)): _*)
    assert(GraftFrame(flat).withQuantileTier("s", 4).df
      .select("tier").collect().forall(_.getInt(0) == 0))
    // empty frame: tier 0 everywhere (vacuous), no throw
    assert(GraftFrame(df(sch)).withQuantileTier("s", 3).df.count() == 0)
    intercept[IllegalArgumentException] {
      GraftFrame(d).withQuantileTier("s", 1)
    }
    // NaN and NULL scores land in tier 0 (the WORST tier — the
    // selectByBudget stance) and are excluded from the cutpoints:
    // without the guard Spark's NaN-greatest ordering would put NaN in
    // the TOP tier, inverting the curriculum intent (r14 advice)
    val dsch = StructType(Seq(StructField("id", LongType),
      StructField("s", DoubleType)))
    val degen = df(dsch,
      (1L to 8L).map(i => Row(i, i.toDouble)) ++
        Seq(Row(9L, Double.NaN), Row(10L, null)): _*)
    val dtiers = GraftFrame(degen).withQuantileTier("s", 4).df
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(dtiers(9L) == 0 && dtiers(10L) == 0, s"$dtiers")
    // the clean scores tier exactly as without the degenerate rows
    // (cutpoints saw only 1..8)
    assert((1L to 8L).forall(i => dtiers(i) == ((i.toInt - 1) / 2)),
      s"$dtiers")
    // all-NaN scores: no cutpoints, everything tier 0, no throw
    val allNan = df(dsch, Row(1L, Double.NaN), Row(2L, Double.NaN))
    assert(GraftFrame(allNan).withQuantileTier("s", 3).df
      .select("tier").collect().forall(_.getInt(0) == 0))
    // a column name needing backticks resolves (no raw SQL interpolation)
    val odd = df(StructType(Seq(StructField("id", LongType),
      StructField("my score", DoubleType))), Row(1L, 1.0), Row(2L, 2.0))
    assert(GraftFrame(odd).withQuantileTier("my score", 2).df.count() == 2)
  }

  test("selectByBudget: deterministic prefix, exact-budget row kept, clamps, refusal") {
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("score", DoubleType), StructField("tok", LongType)))
    val d = df(sch,
      Row(1L, 9.0, 40L), Row(2L, 8.0, 30L), Row(3L, 7.0, 30L),
      Row(4L, 6.0, 5L), Row(5L, 5.0, 100L))
    // budget 100: rows 1 (cum 40), 2 (cum 70), 3 (cum 100 — EXACTLY at
    // the line, kept); row 4 would fit greedily but the PREFIX rule
    // closes at the first overflow rank — deterministic, not knapsack
    val got = GraftFrame(d).selectByBudget("score", "tok", 100L, "id").df
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cum_tokens")).toMap
    assert(got == Map(1L -> 40L, 2L -> 70L, 3L -> 100L), s"$got")
    // score ties break by id ascending: equal scores, budget covers one
    val tied = df(sch, Row(10L, 1.0, 10L), Row(9L, 1.0, 10L))
    assert(GraftFrame(tied).selectByBudget("score", "tok", 10L, "id").df
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(9L))
    // negative/NULL token counts clamp to 0 (cost nothing)
    val neg = df(sch, Row(1L, 2.0, -5L), Row(2L, 1.0, null))
    assert(GraftFrame(neg).selectByBudget("score", "tok", 0L, "id").df
      .count() == 2)
    // deterministic under repartition
    val a = GraftFrame(d).selectByBudget("score", "tok", 100L, "id").df
      .orderBy("id").collect().toSeq
    val b = GraftFrame(d.repartition(5))
      .selectByBudget("score", "tok", 100L, "id").df
      .orderBy("id").collect().toSeq
    assert(a == b)
    intercept[IllegalArgumentException] {
      GraftFrame(d).selectByBudget("score", "tok", -1L, "id")
    }
    // a fractional key refuses: the tiebreak casts the key to long, and
    // 1.2 vs 1.7 would silently collide after the cast — breaking the
    // documented total-order determinism (r14 advice)
    val fkey = intercept[IllegalArgumentException] {
      GraftFrame(d.withColumn("fid", col("id") + lit(0.5)))
        .selectByBudget("score", "tok", 100L, "fid")
    }
    assert(fkey.getMessage.contains("integral"), fkey.getMessage)
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs `body` launches, counted by a listener. A marker job
    * submitted afterwards bounds the count: the listener bus delivers in
    * order, so once the marker's start arrives every earlier one has. */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("jobs-marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      def next() = {
        val d = started.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(d != null, "marker job start never delivered")
        d
      }
      Iterator.continually(next()).takeWhile(_ != "jobs-marker").size
    } finally sc.removeSparkListener(listener)
  }

  test("table: an overwrite at the same path re-resolves the schema") {
    val dir = tmpDir("graft_table_overwrite")
    kv((1L, "a", 1.0)).write.parquet(s"$dir/t.parquet")
    assert(GraftSession.table(spark, dir, "t").columns.toSeq ==
      Seq("id", "k", "v"))
    kv((2L, "b", 2.0)).withColumn("extra", lit(7L))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = GraftSession.table(spark, dir, "t")
    assert(again.columns.toSeq == Seq("id", "k", "v", "extra"))
    assert(again.collect().toSeq == Seq(Row(2L, "b", 2.0, 7L)))
  }

  test("table: the resolved events ts type follows nanosAsLong between reads") {
    // the driver's events fixture shape: ts is TIMESTAMP(NANOS), which
    // Spark writes never produce, so the file is written with parquet's
    // own example writer
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir("graft_table_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def read() = GraftSession.table(spark, dir, "events")
    assert(spark.conf.get(key) == "true")
    assert(read().schema("ts").dataType == TimestampNTZType)
    spark.conf.set(key, "false")
    try {
      val e = intercept[org.apache.spark.sql.AnalysisException](read())
      assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
    } finally spark.conf.set(key, "true")
    val back = read()
    assert(back.schema("ts").dataType == TimestampNTZType)
    assert(back.collect().head.getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.parse("2023-11-14T22:13:20.123456"))
  }

  test("table: a second read of an unchanged file launches no Spark job") {
    val dir = tmpDir("graft_table_jobs")
    kv((1L, "a", 1.0), (2L, "b", 2.0)).write.parquet(s"$dir/t.parquet")
    // the first read infers the schema (a footer-merge job) ...
    assert(jobsLaunchedBy(GraftSession.table(spark, dir, "t")) > 0)
    // ... the second reuses it
    assert(jobsLaunchedBy(GraftSession.table(spark, dir, "t")) == 0)
  }
}

