package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{GraftFrame, Rolling}
import graft.llm.{Dedup, Multimodal, Similarity, TextHash, TextStats}
import graft.operators.{Reductions, WindowOps}

class WindowLlmSpec extends SparkTestBase {

  private def seq6 = kv(
    (1L, "g", 1.0), (2L, "g", 2.0), (3L, "g", 3.0),
    (4L, "h", 10.0), (5L, "h", 20.0), (6L, "h", 30.0))

  // ---- windows ----

  test("rolling sum with min_periods nulls early rows") {
    val roll = Rolling(seq6, Seq("k"), "id", window = 2, minPeriods = 2)
    val r = collectSorted(roll.withColumnRolled("rs", roll.sum("v")).df, "id")
    assert(r.head.isNullAt(3))            // only 1 obs in first frame
    assert(r(1).getDouble(3) == 3.0)      // 1+2
    assert(r(5).getDouble(3) == 50.0)     // 20+30
  }

  test("rolling refuses empty partitionBy without opt-in") {
    intercept[IllegalArgumentException] { Rolling(seq6, Nil, "id", 2) }
    Rolling(seq6, Nil, "id", 2, allowGlobal = true) // opt-in ok
  }

  test("cumWindow requires partition columns") {
    intercept[IllegalArgumentException] { WindowOps.cumWindow("id", Nil) }
  }

  test("cumsum/cummax/cumprod per group") {
    val w = WindowOps.cumWindow("id", Seq("k"))
    val d = seq6
      .withColumn("cs", WindowOps.cumsum("v", w))
      .withColumn("cp", WindowOps.cumprod("v", w))
    val r = collectSorted(d, "id")
    assert(r.map(_.getDouble(3)) == Seq(1.0, 3.0, 6.0, 10.0, 30.0, 60.0))
    assert(r.map(_.getDouble(4)) == Seq(1.0, 2.0, 6.0, 10.0, 200.0, 6000.0))
  }

  test("globalCumSum equals single-partition reference") {
    val d = seq6.repartition(3)
    val got = WindowOps.globalCumSum(d, "id", "v", "gs")
    val r = collectSorted(got, "id").map(_.getDouble(3))
    assert(r == Seq(1.0, 3.0, 6.0, 16.0, 36.0, 66.0))
  }

  test("ffill requires partitions; fills within group") {
    intercept[IllegalArgumentException] { WindowOps.ffill("v", "id", Nil) }
    val d = seq6.withColumn("v",
      when(col("id") === 2, lit(null)).otherwise(col("v")))
    val r = collectSorted(
      d.withColumn("f", WindowOps.ffill("v", "id", Seq("k"))), "id")
    assert(r(1).getDouble(3) == 1.0)
  }

  test("isMonotonicIncreasing true and false cases") {
    val mono = seq6.select(col("id"), col("id").cast(DoubleType).as("x"))
    assert(WindowOps.isMonotonicIncreasing(mono, "x", "id")
      .collect().head.getBoolean(0))
    val not = seq6.select(col("id"), (lit(100.0) - col("v")).as("x"))
    assert(!WindowOps.isMonotonicIncreasing(not, "x", "id")
      .collect().head.getBoolean(0))
  }

  test("isMonotonicDecreasing true and false cases") {
    val dec = seq6.select(col("id"), (-col("id")).cast(DoubleType).as("x"))
    assert(WindowOps.isMonotonicDecreasing(dec, "x", "id")
      .collect().head.getBoolean(0))
    val inc = seq6.select(col("id"), col("id").cast(DoubleType).as("x"))
    assert(!WindowOps.isMonotonicDecreasing(inc, "x", "id")
      .collect().head.getBoolean(0))
  }

  test("memoryUsagePerPartition reports one row per partition, rows sum to total") {
    val d = seq6.repartition(3)
    val r = Reductions.memoryUsagePerPartition(d).collect()
    assert(r.length == 3)
    assert(r.map(_.getLong(1)).sum == 6L)
    assert(r.forall(_.getLong(2) >= 0L))
  }

  test("mapOverlap sees neighbor rows across partition boundaries") {
    val d = GraftFrame(seq6.repartition(3)) // scatter the 6 rows
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DoubleType)))
    val out = d.mapOverlap("id", before = 1, after = 0, schema) { it =>
      var prev: Option[Double] = None
      it.flatMap { case (owned, row) =>
        val v = row.getDouble(2)
        val r = if (owned) Some(Row(row.getLong(0),
          prev.map(p => v - p).orNull)) else None
        prev = Some(v)
        r
      }
    }
    val got = collectSorted(out.df, "id")
    assert(got.head.isNullAt(1)) // global first row has no predecessor
    // id=4 (v=10.0) follows id=3 (v=3.0) even across a partition boundary
    assert(got(3).getDouble(1) == 7.0)
    assert(got.map(_.getLong(0)) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("repartitionBySize yields at least one partition") {
    val f = GraftFrame(seq6).repartitionBySize(1L << 20)
    assert(f.df.rdd.getNumPartitions >= 1 && f.df.count() == 6)
  }

  // ---- llm: hashing / dedup ----

  test("tokId is deterministic and SQL-consistent") {
    val got = spark.range(1).select(TextHash.tokId(lit("spark")).as("h"))
      .collect().head.getLong(0)
    // same formula by hand: rpad("spark",4) = "spar", len=5
    val expect = 's'.toInt * 2097152L + 'p'.toInt * 16384L + 'a'.toInt * 128L +
      'r'.toInt + 5L * 7919L
    assert(got == expect)
  }

  test("native ShingleHashes/MinHashSig expressions match declarative forms bit-for-bit") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    val both = docs.select(
      col("doc_id"),
      graft.functions.TextHashExprs.shingleHashes(col("text")).as("sh_fast"),
      TextHash.shingleHashArray(col("text")).as("sh_slow"))
    val shDiff = both.filter(col("sh_fast") =!= col("sh_slow")).count()
    assert(shDiff == 0, s"$shDiff rows differ between native and declarative shingle hashes")
    val sigs = both.select(col("doc_id"),
      graft.functions.TextHashExprs.minhashSig(col("sh_fast")).as("sig_fast"),
      TextHash.minhashSignature(col("sh_slow")).as("sig_slow"))
      .filter(org.apache.spark.sql.functions.size(col("sh_fast")) > 0)
    assert(sigs.filter(col("sig_fast") =!= col("sig_slow")).count() == 0)
  }

  test("native TokenStats matches declarative stats bit-for-bit") {
    import org.apache.spark.sql.functions.{length, regexp_replace}
    // unicode rows exercise the code-point counting rule (é is alpha? no —
    // the regex class is ASCII [A-Za-z], so é counts as symbol; the
    // supplementary 𝄞 is ONE symbol code point, not two UTF-16 units)
    val extra = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(9001L, "café 𝄞 tab\tend."), Row(9002L, ""), Row(9003L, "a:b;c!?"))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100).select("doc_id", "text").unionByName(extra)
    val stop = Seq("the", "a", "of")
    val both = docs.select(
      graft.functions.TextHashExprs.tokenStats(col("text"), stop).as("ts"),
      TextStats.tokenCount(col("text")).as("nt"),
      TextStats.stopwordCount(col("text"), stop).as("sw"),
      TextHash.fingerprint(col("text")).as("fp"),
      org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.array_distinct(
          org.apache.spark.sql.functions.split(col("text"), " "))).as("nd"),
      length(col("text")).as("nc"),
      length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("na"),
      length(regexp_replace(col("text"), "[^0-9]", "")).as("ndig"),
      length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).as("nsym"),
      (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
        .as("np"))
    val bad = both.filter(
      col("ts.n_tokens") =!= col("nt") || col("ts.n_stopwords") =!= col("sw") ||
        col("ts.fingerprint") =!= col("fp") || col("ts.n_distinct") =!= col("nd") ||
        col("ts.n_chars") =!= col("nc") || col("ts.n_alpha") =!= col("na") ||
        col("ts.n_digit") =!= col("ndig") || col("ts.n_symbol") =!= col("nsym") ||
        col("ts.n_punct") =!= col("np")).count()
    assert(bad == 0)
  }

  test("native DotDecimal matches declarative dotExact bit-for-bit") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    for (scale <- Seq(12, 18)) {
      val diff = e.select(
        Similarity.dotExact(col("embedding"), col("embedding"), scale).as("fast"),
        Similarity.dotExactDeclarative(col("embedding"), col("embedding"), scale).as("slow"))
        .filter(col("fast") =!= col("slow")).count()
      assert(diff == 0, s"scale $scale: $diff rows differ")
    }
  }

  test("minhash signature: identical texts share signature, k hashes") {
    val docs = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(1L, "a b c d e f"), Row(2L, "a b c d e f"), Row(3L, "z y x w v u"))
    val sigs = Dedup.signatures(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length == 16)
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("nearDuplicatePairs finds planted near-dup, not unrelated docs") {
    val docs = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(1L, "the quick brown fox jumps over the lazy dog today"),
      Row(2L, "the quick brown fox jumps over the lazy dog tonight"),
      Row(3L, "completely different words appear in this other document here"))
    val byName = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.5).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(byName == Set((1L, 2L)))
  }

  test("degenerate LSH bucket is split: candidate count bounded, pairs still found") {
    // 60 identical docs land in ONE (band, key) bucket per band; with
    // maxBucketSize=10 each band splits into ~6 sub-buckets, so the pair
    // join is bounded at ~sum of 10²-sized groups instead of 60² — the
    // planted mega-bucket must NOT produce the full quadratic pair list.
    val sch = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val docs = df(sch, (1L to 60L).map(i =>
      Row(i, "the exact same short document body repeated everywhere verbatim")): _*)
    val capped = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.9,
        maxBucketSize = 10).count()
    val full = 60L * 59 / 2
    assert(capped > 0, "split buckets must still yield within-group pairs")
    assert(capped < full,
      s"cap must bound the candidate join ($capped vs quadratic $full)")
    // uncapped (default 10000) fixture-scale behavior is unchanged
    val uncapped = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.9).count()
    assert(uncapped == full)
  }

  test("dropNearDuplicates keeps smallest id per cluster") {
    val docs = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(1L, "the quick brown fox jumps over the lazy dog today"),
      Row(2L, "the quick brown fox jumps over the lazy dog tonight"),
      Row(3L, "completely different words appear in this other document here"))
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text", 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 3L))
  }

  test("minLabelComponents: 40-hop chain, star with larger hub, isolated pair") {
    val pairSchema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    // chain 1-2-3-...-40 (far beyond r2's fixed 3-pass budget), a
    // component where node 2's only neighbor is LARGER (2-3, 1-3: the
    // min reaches 2 only via neighbor-min, not pointer doubling alone),
    // and an isolated pair
    val chain = (1L until 40L).map(i => Row(i + 100L, i + 101L))
    val star = Seq(Row(2L, 3L), Row(1L, 3L))
    val iso = Seq(Row(900L, 901L))
    val pairs = df(pairSchema, (chain ++ star ++ iso): _*)
    val labels = Dedup.minLabelComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((101L to 140L).forall(labels(_) == 101L),
      s"chain labels: ${(101L to 140L).map(labels).distinct}")
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(900L) == 900L && labels(901L) == 900L)
  }

  test("minLabelComponents uses reliable checkpointing when a dir is set") {
    val pairSchema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    val pairs = df(pairSchema,
      Row(1L, 2L), Row(2L, 3L), Row(10L, 11L))
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir)
    // pin the DISTRIBUTED loop (r16: tiny graphs take the bounded
    // driver union-find fast path, which never checkpoints)
    spark.conf.set("spark.graft.components.driverMaxPairs", "0")
    try {
      val labels = Dedup.minLabelComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // the reliable path must actually have written checkpoint data
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint written")
    } finally {
      // restore the local-only default for the rest of the suite
      val f = sc.getClass.getMethods.find(_.getName == "checkpointDir_$eq")
      f.foreach(_.invoke(sc, None))
      spark.conf.unset("spark.graft.components.driverMaxPairs")
    }
  }

  test("minLabelComponents: driver union-find ≡ distributed loop (r16)") {
    // a pseudo-random 300-edge graph over ~200 nodes: chains, stars and
    // isolated pairs arise naturally; both paths must agree exactly
    val pairSchema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    val rnd = new scala.util.Random(42)
    val rows = (1 to 300).map { _ =>
      val a = rnd.nextInt(200).toLong
      val b = a + 1 + rnd.nextInt(40).toLong
      Row(a, b)
    }
    val pairs = df(pairSchema, rows.distinct: _*)
    val fast = Dedup.minLabelComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.components.driverMaxPairs", "0")
    val slow =
      try Dedup.minLabelComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset("spark.graft.components.driverMaxPairs")
    assert(fast == slow, s"driver and distributed labels diverge: " +
      s"${(fast.toSet diff slow.toSet).take(5)} vs ${(slow.toSet diff fast.toSet).take(5)}")
  }

  test("exact dedup keeps first by id, canonicalizes whitespace/case") {
    val docs = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(1L, "Hello  World"), Row(2L, "hello world"), Row(3L, "other"))
    val kept = Dedup.exact(docs, "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 3L))
  }

  test("dropSimhashNearDuplicates collapses transitive chains to the smallest id") {
    // a ~ b and b ~ c within hamming 3, but ham(a, c) = 6: the
    // component rule keeps ONLY the smallest id — the drop-id_b
    // shortcut would differ exactly here (c never pairs with a).
    // Token edits found by offline search over the exact signature
    // arithmetic: 300 base tokens, B swaps {tk238, tk286}→{zz231,
    // zz260} (ham 3 from A), C further swaps tk064→zz116 (ham 3 from
    // B, 6 from A).
    val baseToks = (0 until 300).map(i => f"tk$i%03d")
    val base = baseToks.mkString(" ")
    val mid = (baseToks.filterNot(Set("tk238", "tk286")) ++
      Seq("zz231", "zz260")).mkString(" ")
    val far = (baseToks.filterNot(Set("tk064", "tk238", "tk286")) ++
      Seq("zz231", "zz260", "zz116")).mkString(" ")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val docs = df(schema, Row(10L, base), Row(20L, mid), Row(30L, far),
      Row(40L, "completely different words about rivers and stones and light"))
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only meaningful if the fixture actually forms a chain (not a
    // triangle): 10~20, 20~30, but NOT 10~30
    assume(pairs.contains((10L, 20L)) && pairs.contains((20L, 30L)) &&
      !pairs.contains((10L, 30L)),
      s"fixture drifted (pairs=$pairs) — rebuild the chain texts")
    val kept = Dedup.dropSimhashNearDuplicates(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 40L),
      s"chain must collapse to its smallest id: $kept")
  }

  test("native SimHash matches the declarative form bit-for-bit") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(200)
    val both = docs.select(col("doc_id"),
        graft.functions.TextHashExprs.simhash(col("text"), 64).as("nat"),
        graft.llm.TextHash.simhash(col("text"), 64).as("dec"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"doc ${r.getLong(0)}: native ${r.getLong(1)} != declarative ${r.getLong(2)}"))
    // 16-bit variant too (the narrow-signature path stays consistent)
    val b16 = docs.select(
        graft.functions.TextHashExprs.simhash(col("text"), 16).as("nat"),
        graft.llm.TextHash.simhash(col("text"), 16).as("dec"))
      .collect()
    b16.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // null text -> null signature on both paths
    val nulls = df(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))), Row(1L, null))
      .select(graft.functions.TextHashExprs.simhash(col("text"), 64))
      .collect()
    assert(nulls.head.isNullAt(0))
  }

  test("simhash equal for identical token multisets") {
    val d = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(1L, "a b c"), Row(2L, "c b a"), Row(3L, "p q r s t u v w"))
    val m = Dedup.simhashGroups(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L)) // set-based: order-insensitive
  }

  test("chunkByTokens: overlap invariant, full coverage, no redundant tail; guards") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val words = (1 to 23).map(i => s"w$i").mkString(" ")
    val docs = df(schema,
      Row(1L, words),           // 23 tokens -> chunks at stride 7: 0..2 (+1 = 3)
      Row(2L, "a b c"),         // under maxTokens -> exactly 1 chunk
      Row(3L, null))            // null text -> dropped
    val out = graft.llm.TextStats
      .chunkByTokens(docs, "doc_id", "text", maxTokens = 10, overlap = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getInt(3)))
    val byDoc = out.groupBy(_._1)
    assert(!byDoc.contains(3L), "null text must be dropped")
    assert(byDoc(2L).map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0, "a b c", 3)))
    val c1 = byDoc(1L).sortBy(_._2)
    // nChunks = 1 + ceil((23-10)/7) = 3; last chunk reaches token 23
    assert(c1.length == 3, s"expected 3 chunks, got ${c1.length}")
    assert(c1(0)._3.startsWith("w1 ") && c1(0)._4 == 10)
    // consecutive chunks share exactly `overlap` tokens
    val t0 = c1(0)._3.split(" ").toSeq
    val t1 = c1(1)._3.split(" ").toSeq
    assert(t0.takeRight(3) == t1.take(3),
      s"chunks must overlap by 3 tokens: ${t0.takeRight(3)} vs ${t1.take(3)}")
    // full coverage: union of chunk tokens = the document, in order
    val reassembled = c1.zipWithIndex.flatMap { case (c, i) =>
      val ts = c._3.split(" ").toSeq
      if (i == 0) ts else ts.drop(3)
    }.toSeq
    assert(reassembled == (1 to 23).map(i => s"w$i"),
      "chunks must tile the document exactly")
    // last chunk is short but non-redundant (reaches the end)
    assert(c1(2)._4 == 23 - 2 * 7)
    intercept[IllegalArgumentException] {
      graft.llm.TextStats.chunkByTokens(docs, "doc_id", "text", 10, 10)
    }
  }

  test("chunkByTokensGrouped: bit-parity with the blockwise chunker; straggler guard fails loudly") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val docs = df(schema,
      Row(1L, (1 to 23).map(i => s"w$i").mkString(" ")),
      Row(2L, "a b c"),
      Row(3L, null),
      Row(4L, (1 to 40).map(i => s"x$i").mkString(" ")))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .toSet
    // parity across overlap regimes, including overlap=0 tiling
    for ((mt, ov) <- Seq((10, 3), (8, 2), (7, 0))) {
      val block = rows(graft.llm.TextStats
        .chunkByTokens(docs, "doc_id", "text", mt, ov))
      val grouped = rows(graft.llm.TextStats
        .chunkByTokensGrouped(docs, "doc_id", "text", mt, ov))
      assert(grouped == block,
        s"grouped chunker must match blockwise at ($mt, $ov)")
    }
    // the blockwise form's straggler guard: a doc over maxDocTokens
    // fails loudly, naming the linear restructure
    val e = intercept[Exception] {
      graft.llm.TextStats.chunkByTokens(docs, "doc_id", "text",
        maxTokens = 10, overlap = 3, maxDocTokens = 30).collect()
    }
    assert(e.getMessage.contains("chunkByTokensGrouped"),
      s"guard must name the restructure: ${e.getMessage}")
    // and the grouped form handles the same doc without a guard
    assert(graft.llm.TextStats.chunkByTokensGrouped(
      docs.filter(col("doc_id") === 4L), "doc_id", "text", 10, 3)
      .count() == 6) // 1 + ceil((40-10)/7) = 6
  }

  test("tokenWindows: offsets are a permutation-ordered exclusive cumsum; straddlers span; zero-token docs pin to start window") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("tok", LongType)))
    val docs = df(schema,
      Row(1L, 60L), Row(2L, 50L), Row(3L, 0L), Row(4L, 45L), Row(5L, 70L))
    val out = graft.llm.TextStats
      .tokenWindows(docs, "doc_id", "tok", windowSize = 100L, seed = 0L)
      .collect().map(r => (r.getLong(0),
        r.getAs[Long]("token_start"), r.getAs[Long]("window_first"),
        r.getAs[Long]("window_last"), r.getAs[Long]("n_windows"))).toSeq
    // offsets: ordered by the Knuth hash of doc_id, exclusive cumsum
    val hash = (id: Long) => (id % 2147483648L) * 2654435761L % 4294967296L
    val order = Seq(1L, 2L, 3L, 4L, 5L).sortBy(hash)
    val toks = Map(1L -> 60L, 2L -> 50L, 3L -> 0L, 4L -> 45L, 5L -> 70L)
    val expStart = order.scanLeft(0L)((acc, id) => acc + toks(id))
      .zip(order).map { case (s, id) => id -> s }.toMap
    out.foreach { case (id, start, first, last, n) =>
      assert(start == expStart(id), s"doc $id offset $start != ${expStart(id)}")
      assert(first == start / 100)
      val expLast = if (toks(id) > 0) (start + toks(id) - 1) / 100 else first
      assert(last == expLast && n == expLast - first + 1)
    }
    // total mass 225 over 100-token windows: at least one doc straddles
    assert(out.exists(_._5 > 1), "fixture must contain a straddling doc")
    val z = out.find(_._1 == 3L).get
    assert(z._5 == 1, "zero-token doc spans exactly its start window")
  }

  test("assembleWindows: token-exact reconstruction of the chopped stream") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val docs = df(schema,
      (1L to 9L).map(i =>
        Row(i, (1 to 17).map(t => s"d${i}t$t").mkString(" "))): _*)
    val out = graft.llm.TextStats
      .assembleWindows(docs, "doc_id", "text", windowSize = 20L)
      .orderBy("window_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // reference: concatenate tokens in the hash permutation, chop at 20
    val hash = (id: Long) => (id % 2147483648L) * 2654435761L % 4294967296L
    val stream = (1L to 9L).sortBy(hash)
      .flatMap(i => (1 to 17).map(t => s"d${i}t$t"))
    val expected = stream.grouped(20).toSeq
    assert(out.length == expected.length)
    out.zip(expected).foreach { case ((wid, text, n), exp) =>
      assert(n == exp.length, s"window $wid mass $n != ${exp.length}")
      assert(text == exp.mkString(" "),
        s"window $wid text diverged from the chopped stream")
    }
    assert(out.init.forall(_._3 == 20L) && out.last._3 == (9 * 17) % 20)
  }

  test("tokenWindowMembers: slices tile every doc and fill every window exactly") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("tok", LongType)))
    val docs = df(schema, Row(1L, 60L), Row(2L, 250L), Row(3L, 0L),
      Row(4L, 45L), Row(5L, 70L)) // total 425 over 100-token windows
    val out = graft.llm.TextStats
      .tokenWindowMembers(docs, "doc_id", "tok", windowSize = 100L)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("window_id"),
        r.getAs[Long]("tok_from"), r.getAs[Long]("tok_to"),
        r.getAs[Long]("window_pos"))).toSeq
    val toks = Map(1L -> 60L, 2L -> 250L, 3L -> 0L, 4L -> 45L, 5L -> 70L)
    // per doc: slices tile [0, n) in window order — no gap, no overlap
    out.groupBy(_._1).foreach { case (id, rows) =>
      val slices = rows.sortBy(_._2).map(r => (r._3, r._4))
      assert(slices.head._1 == 0L, s"doc $id first slice must start at 0")
      assert(slices.last._2 == toks(id), s"doc $id last slice must reach n")
      slices.sliding(2).foreach {
        case Seq((_, aTo), (bFrom, _)) =>
          assert(aTo == bFrom, s"doc $id slices must tile: $slices")
        case _ => ()
      }
    }
    // per window: slice lengths sum to a full window (or the stream tail)
    val total = toks.values.sum
    out.groupBy(_._2).foreach { case (wid, rows) =>
      val mass = rows.map(r => r._4 - r._3).sum
      val expected = math.min(100L, total - wid * 100L)
      assert(mass == expected, s"window $wid holds $mass of $expected")
      // write offsets + lengths pack the window contiguously
      val packed = rows.sortBy(_._5).foldLeft(0L) { (pos, r) =>
        if (r._4 > r._3) { assert(r._5 == pos,
          s"window $wid: slice at ${r._5} expected $pos") ; pos + (r._4 - r._3) }
        else pos // degenerate zero-token slice: position pinned but massless
      }
      assert(packed == expected)
    }
    // the 250-token doc spans at least 3 windows
    assert(out.count(_._1 == 2L) >= 3)
  }

  // ---- llm: similarity ----

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val sch = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val e = df(sch,
      Row(0L, Seq(1.0f, 0.0f)), Row(1L, Seq(1.0f, 0.0f)),
      Row(2L, Seq(0.0f, 1.0f)), Row(3L, Seq(-1.0f, 0.0f)))
    val top = Similarity.bruteForceTopK(e, "vec_id", "embedding", 0L, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.head == (1L, 1.0))
    assert(top(1)._2 == 0.0 && top(2)._2 == -1.0)
  }

  test("native dot_double (codegen) matches sequential double fold bit-for-bit") {
    import org.apache.spark.sql.functions._
    val d = spark.range(1, 200).toDF("id")
      .withColumn("a", transform(sequence(lit(1), lit(64)), i =>
        (i * col("id") % 97).cast("double") / 7.0))
      .withColumn("b", transform(sequence(lit(1), lit(64)), i =>
        (i + col("id") % 13).cast("double") / 3.0))
    val got = d.select(col("id"),
        graft.functions.TextHashExprs.dotDouble(col("a"), col("b")).as("nd"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v).as("hof"))
      .collect()
    got.foreach(r => assert(r.getDouble(1) == r.getDouble(2),
      s"id=${r.getLong(0)}: native ${r.getDouble(1)} != hof ${r.getDouble(2)}"))
  }

  test("int8 quantize/dequantize round trip bounds error at scale/2") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
    val rt = e.select(col("vec_id"), col("embedding"),
        Similarity.quantizeInt8(col("embedding")).as("z"))
      .select(col("vec_id"), col("embedding"),
        col("z").getField("scale").as("scale"),
        col("z").getField("q").as("q"),
        Similarity.dequantizeInt8(col("z")).as("back"))
      .collect()
    assert(rt.length == 100)
    rt.foreach { r =>
      val orig = r.getSeq[Float](1).map(_.toDouble)
      val scale = r.getDouble(2)
      val q = r.getSeq[Byte](3)
      val back = r.getSeq[Double](4)
      assert(q.forall(v => v >= -127 && v <= 127), s"vec ${r.getLong(0)} out of int8 range")
      // max|x| maps to ±127 exactly; every element reconstructs within
      // half a quantization step
      orig.zip(back).foreach { case (o, b) =>
        assert(math.abs(o - b) <= scale / 2 + 1e-12,
          s"vec ${r.getLong(0)}: |$o - $b| > ${scale / 2}")
      }
    }
    // zero vector: scale 0, all-zero codes, reconstructs to zeros
    val z = spark.sql("SELECT array(0.0f, 0.0f, 0.0f) AS v")
      .select(Similarity.quantizeInt8(col("v")).as("z"))
      .select(col("z").getField("scale"), col("z").getField("q")).collect().head
    assert(z.getDouble(0) == 0.0 && z.getSeq[Byte](1).forall(_ == 0))
  }

  test("native nfc_normalize matches the JDK normalizer bit-for-bit") {
    import org.apache.spark.sql.functions.{col, udf}
    val sch = StructType(Seq(StructField("s", StringType)))
    val d = df(sch,
      Row("café"),          // e + combining acute -> é (composes)
      Row("é"),              // already composed é (idempotent)
      Row("Å"),             // A + ring -> Å
      Row("ṩ"),              // s with dot below and above
      Row("plain ascii"), Row(""), Row(null))
    val reference = udf((s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    val both = d.select(
      graft.functions.TextHashExprs.nfcNormalize(col("s")).as("nat"),
      reference(col("s")).as("ref"))
    val rows = both.collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getString(0) == r.getString(1))
    }
    // the composing case actually composed (the fixture is non-vacuous)
    val got = d.select(graft.functions.TextHashExprs.nfcNormalize(col("s")))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(got.contains("café") && got.contains("Å"))
  }

  test("native lsh_bucket matches the declarative HOF form bit-for-bit") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(300)
    val both = e.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), 64, 8).as("nat"),
      Similarity.lshBucketDeclarative(col("embedding"), 64, 8).as("dec"))
    assert(both.filter(col("nat") =!= col("dec")).isEmpty)
  }

  test("lsh bucket is deterministic and annTopK subsets brute force") {
    val sch = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rnd = new scala.util.Random(7)
    val rows = (0L until 20L).map(i => Row(i, Seq.fill(8)(rnd.nextFloat() - 0.5f)))
    val e = df(sch, rows: _*)
    val h1 = Similarity.bucketHistogram(e, "vec_id", "embedding", 8, 4).collect().toSeq
    val h2 = Similarity.bucketHistogram(e, "vec_id", "embedding", 8, 4).collect().toSeq
    assert(h1 == h2 && h1.map(_.getLong(1)).sum == 20)
    val ann = Similarity.annTopK(e, "vec_id", "embedding", 8, 0L, 5, 2)
      .collect().map(_.getLong(0)).toSet
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding", 0L, 19)
      .collect().map(_.getLong(0)).toSet
    assert(ann.subsetOf(brute))
    // multi-probe searches the query bucket plus its Hamming-1 neighbors:
    // with k unbounded the candidate set is a strict superset relation —
    // at least as many rows back, all of them real vectors
    val singleAll = Similarity.annTopK(e, "vec_id", "embedding", 8, 0L, 100, 2)
      .collect().map(_.getLong(0)).toSet
    val multiAll = Similarity.annTopKMultiProbe(e, "vec_id", "embedding", 8, 0L, 100, 2)
      .collect().map(_.getLong(0)).toSet
    assert(singleAll.subsetOf(multiAll),
      s"multi-probe candidates $multiAll must contain single-probe $singleAll")
    assert(multiAll.subsetOf(brute))
  }

  test("annTopKBatch matches per-query multi-probe and plans ONE equi-join") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(300).cache()
    // parity: the batch answer for each query id must equal the
    // single-query multi-probe answer (same buckets, same probe set,
    // same exact-decimal cosine, same tie-break)
    val q = e.filter(col("vec_id") % 100 === 0).select("vec_id", "embedding")
    val batch = Similarity.annTopKBatch(e, q, "vec_id", "embedding",
      "vec_id", "embedding", dim = 64, k = 5, planes = 8)
    val got = batch.collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rs) =>
        qid -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1)))
          .map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    assert(got.nonEmpty && got.keySet == Set(0L, 100L, 200L))
    got.foreach { case (qid, rows) =>
      val single = Similarity.annTopKMultiProbe(e, "vec_id", "embedding",
        dim = 64, queryId = qid, k = 5, planes = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows == single, s"query $qid: batch $rows != single $single")
    }
    // scale contract: a 100-query frame plans exactly ONE join — the
    // bucket equi-join — and never a cartesian/nested-loop product
    val q100 = e.limit(100).select("vec_id", "embedding")
    val plan = Similarity.annTopKBatch(e, q100, "vec_id", "embedding",
        "vec_id", "embedding", dim = 64, k = 5, planes = 8)
      .queryExecution.sparkPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.size == 1, s"wanted 1 bucket join, got ${joins.size}")
    val s = plan.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
      "batch ANN must never plan a pairwise product")
  }

  test("recallReport: full-coverage probes give recall 1.0; pooled mean") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(300).cache()
    val q = e.filter(col("vec_id") % 100 === 0).select("vec_id", "embedding")
    // planes=1 + multiProbe: the probe set (own bucket + its one flip) IS
    // the whole bucket space, so ANN == brute force and recall is exactly
    // 1.0 for every query — a deterministic upper-bound fixture
    val full = Similarity.recallReport(e, q, "vec_id", "embedding",
      "vec_id", "embedding", dim = 64, k = 5, planes = 1, multiProbe = true)
      .collect()
    assert(full.length == 3)
    full.foreach { r =>
      assert(r.getLong(1) == 5 && r.getLong(2) == 5 &&
        r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0, s"row $r")
    }
    // at 8 planes recall may drop below 1; the report must stay within
    // [0,1] per query and the pooled mean must equal sum(hits)/sum(k)
    val rep = Similarity.recallReport(e, q, "vec_id", "embedding",
      "vec_id", "embedding", dim = 64, k = 5, planes = 8, multiProbe = true)
      .collect()
    assert(rep.length == 3)
    val hits = rep.map(_.getLong(1)).sum
    val ks = rep.map(_.getLong(2)).sum
    rep.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) == hits.toDouble / ks.toDouble)
    }
  }

  test("Ivf.recallReport: nprobe=nCells probes every cell, recall exactly 1.0") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(300).cache()
    val q = e.filter(col("vec_id") % 100 === 0).select("vec_id", "embedding")
    val cents = graft.llm.Ivf.train(e, "vec_id", "embedding", nCells = 4, iters = 2)
    // probing all 4 cells makes the candidate set the whole corpus, so
    // the ANN side must equal brute force — the deterministic upper bound
    val full = graft.llm.Ivf.recallReport(e, q, "vec_id", "embedding",
      "vec_id", "embedding", cents, k = 5, nprobe = 4).collect()
    assert(full.length == 3)
    full.foreach { r =>
      assert(r.getLong(1) == 5 && r.getLong(2) == 5 &&
        r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0, s"row $r")
    }
    // at nprobe=1 recall may drop; the report must stay in [0,1] and the
    // pooled mean must equal the integer ratio of sums
    val rep = graft.llm.Ivf.recallReport(e, q, "vec_id", "embedding",
      "vec_id", "embedding", cents, k = 5, nprobe = 1).collect()
    val hits1 = rep.map(_.getLong(1)).sum
    val ks1 = rep.map(_.getLong(2)).sum
    rep.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) == hits1.toDouble / ks1.toDouble)
    }
  }

  test("IVF: assignment covers all vectors, annTopK subsets brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200).cache()
    val cents = graft.llm.Ivf.train(e, "vec_id", "embedding", nCells = 4, iters = 1)
    assert(cents.count() == 4)
    val assigned = graft.llm.Ivf.assign(e, "vec_id", "embedding", cents)
    assert(assigned.filter(col("cell") < 0).count() == 0)
    assert(assigned.count() == 200)
    val ann = graft.llm.Ivf.annTopK(e, "vec_id", "embedding", cents, 0L, 5, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding", 0L, 199)
      .collect().map(_.getLong(0)).toSet
    assert(ann.nonEmpty && ann.subsetOf(brute))
  }

  test("IVF train defaults to the hash-filtered sample, seeds sampling-invariant") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200).cache()
    // the 0.05 default keeps ids whose 31-bit Knuth hash < 0.05 * 2^32;
    // compute that sample size independently of the query under test
    def h(i: Long): Long = ((i % 2147483648L) * 2654435761L) % 4294967296L
    val thr = (0.05 * 4294967296L).toLong
    val sampleSize = (0L until 200L).count(h(_) < thr)
    assert(sampleSize > 0 && sampleSize < 200)
    // asking for MORE cells than the sample has rows must NOT silently
    // return sample-many centroids (r8 behavior, flagged by ADVICE):
    // train detects the undersized sample and falls back to full-data
    // training, so the caller gets every cell it asked for
    val cents = graft.llm.Ivf.train(e, "vec_id", "embedding",
      nCells = 100, iters = 0)
    assert(cents.count() == 100,
      s"undersized-sample fallback returned ${cents.count()} centroids, " +
        "expected the full 100 (fallback to trainFraction=1.0)")
    // proof the default path still trains on the sample when it is big
    // enough: one Lloyd refinement averages over the sample's vectors,
    // so refined centroids differ from full-data training's
    val sampled1 = graft.llm.Ivf.train(e, "vec_id", "embedding",
        nCells = 4, iters = 1)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val full1 = graft.llm.Ivf.train(e, "vec_id", "embedding", nCells = 4,
        iters = 1, trainFraction = 1.0)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(sampled1 != full1,
      "sample-trained refinement equals full-data refinement — " +
        "the default path is not actually training on the sample")
    // sampling invariance: the hash filter keeps every smallest-hash row,
    // so seeds at nCells <= sample size match the full-corpus seeds
    val sampled = graft.llm.Ivf.train(e, "vec_id", "embedding", nCells = 4, iters = 0)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val full = graft.llm.Ivf.train(e, "vec_id", "embedding", nCells = 4,
        iters = 0, trainFraction = 1.0)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(sampled == full)
  }

  test("IVF appendToIndex: shard joins frozen cells, grown search stays nprobe-pruned") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding").limit(200).cache()
    val corpus = e.filter(col("vec_id") < 150)
    val shard = e.filter(col("vec_id") >= 150)
      // plant an exact duplicate of vector 0 under a shard-only id: the
      // grown-index search below MUST surface it as the top neighbor
      .unionByName(e.filter(col("vec_id") === 0L)
        .select(lit(9999L).as("vec_id"), col("embedding")))
    val cents = graft.llm.Ivf.train(corpus, "vec_id", "embedding",
      nCells = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    try {
      graft.llm.Ivf.writeIndex(corpus, "vec_id", "embedding", cents, dir)
      graft.llm.Ivf.appendToIndex(shard, "vec_id", "embedding", dir)
      // every shard row landed, assigned against the SAVED centroids —
      // identical to a blockwise assign with the training-time frame
      val grown = spark.read.parquet(s"$dir/vectors")
      assert(grown.count() == 201)
      val gotCells = grown.filter(col("vec_id") >= 150)
        .select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val wantCells = graft.llm.Ivf.assign(shard, "vec_id", "embedding", cents)
        .select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(gotCells == wantCells, "append assigned cells differently than assign()")
      // the planted duplicate is found through the grown index, and the
      // probe scan still reads exactly nprobe of the cell directories —
      // appending must not erode the partitioned-index read contract
      val nprobe = 2
      val idx = graft.llm.Ivf.annTopKIndexed(e, "vec_id", "embedding", dir,
        queryId = 0L, k = 5, nprobe = nprobe)
      val scans = idx.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.partitionFilters.exists(_.references.exists(_.name == "cell")) => s
      }
      assert(scans.nonEmpty, "no scan with a partition filter on cell")
      val dirsRead = scans.head.relation.location
        .listFiles(scans.head.partitionFilters, scans.head.dataFilters).length
      assert(dirsRead == nprobe, s"grown probe scan read $dirsRead cell dirs")
      val top = idx.collect()
      assert(top.head.getLong(0) == 9999L && top.head.getDouble(1) > 0.999999,
        s"planted shard duplicate not surfaced: ${top.map(_.getLong(0)).toSeq}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("IVF annTopKBatch matches per-query annTopK, no cartesian") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200).cache()
    val cents = graft.llm.Ivf.train(e, "vec_id", "embedding", nCells = 4, iters = 0)
    val q = e.filter(col("vec_id") % 50 === 0).select("vec_id", "embedding")
    val batch = graft.llm.Ivf.annTopKBatch(e, q, "vec_id", "embedding",
      "vec_id", "embedding", cents, k = 5, nprobe = 2)
    val got = batch.collect().groupBy(_.getLong(0))
      .map { case (qid, rs) =>
        qid -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1)))
          .map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    assert(got.keySet == Set(0L, 50L, 100L, 150L))
    got.foreach { case (qid, rows) =>
      val single = graft.llm.Ivf.annTopK(e, "vec_id", "embedding", cents,
          queryId = qid, k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows == single, s"query $qid: batch $rows != single $single")
    }
    val plan = batch.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "batched IVF must never plan a pairwise product")
  }

  test("IVF persisted index: search prunes to nprobe cell dirs and matches in-memory") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200).cache()
    val cents = graft.llm.Ivf.train(e, "vec_id", "embedding", nCells = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    try {
      graft.llm.Ivf.writeIndex(e, "vec_id", "embedding", cents, dir)
      val nprobe = 2
      val idx = graft.llm.Ivf.annTopKIndexed(e, "vec_id", "embedding", dir,
        queryId = 0L, k = 5, nprobe = nprobe)
      // the scan must carry a static partition filter on `cell` and list
      // exactly nprobe of the 4 cell directories — this is the 100 TB
      // contract: a query reads nprobe/nCells of the corpus, not all of it
      // (sparkPlan, not executedPlan: AQE's adaptive wrapper hides its
      // children from collect until execution)
      val scans = idx.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.partitionFilters.exists(_.references.exists(_.name == "cell")) => s
      }
      assert(scans.nonEmpty, "no scan with a partition filter on cell")
      val dirsRead = scans.head.relation.location
        .listFiles(scans.head.partitionFilters, scans.head.dataFilters).length
      assert(dirsRead == nprobe, s"probe scan read $dirsRead cell dirs, wanted $nprobe")
      // same answer as the un-indexed single-pass form
      val mem = graft.llm.Ivf.annTopK(e, "vec_id", "embedding", cents, 0L, 5, nprobe)
        .collect().map(_.getLong(0)).toSeq
      assert(idx.collect().map(_.getLong(0)).toSeq == mem)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("IVF indexed batch search: dynamic partition pruning + per-query parity") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200).cache()
    val cents = graft.llm.Ivf.train(e, "vec_id", "embedding", nCells = 4, iters = 0)
    val dir = java.nio.file.Files.createTempDirectory("ivf_bidx").toString
    try {
      graft.llm.Ivf.writeIndex(e, "vec_id", "embedding", cents, dir)
      val q = e.filter(col("vec_id") % 50 === 0).select("vec_id", "embedding")
      val batch = graft.llm.Ivf.annTopKIndexedBatch(q, "vec_id", "embedding",
        dir, "vec_id", "embedding", k = 5, nprobe = 2)
      // the scan must carry a RUNTIME partition filter (dynamic pruning
      // from the broadcast probe frame) — the 100 TB contract: the index
      // read covers the union of probed cells, not the whole corpus
      val plan = batch.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no dynamic partition pruning on the index scan:\n${plan.take(1200)}")
      // per-query parity with the single-query indexed search
      val got = batch.collect().groupBy(_.getLong(0))
        .map { case (qid, rs) =>
          qid -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1)))
            .map(r => (r.getLong(1), r.getDouble(2))).toSeq }
      assert(got.keySet == Set(0L, 50L, 100L, 150L))
      got.foreach { case (qid, rows) =>
        val single = graft.llm.Ivf.annTopKIndexed(e, "vec_id", "embedding",
            dir, queryId = qid, k = 5, nprobe = 2)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(rows == single, s"query $qid: batch $rows != single $single")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("streaming near-dup flags arrivals against a persisted index, batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(300).cache()
    val tmp = java.nio.file.Files.createTempDirectory("graft_ndis").toString
    try {
      graft.llm.Dedup.writeNearDupIndex(corpus, "doc_id", "text", "ndi_s", tmp)
      // stream two arrivals: an exact copy of corpus doc 7 (planted
      // near-dup) and a text sharing no 3-shingles with anything
      val dupText = corpus.filter(col("doc_id") === 7).collect().head.getString(1)
      val in = MemoryStream[(Long, String)]
      val flagged = graft.streaming.Streams.nearDupPairsStream(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", "ndi_s", 0.5)
      val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      val q = flagged.writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // per-batch dedup of multi-band hits — stateless by design
          buf ++= b.dropDuplicates("id_a", "id_b").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          ()
        }.start()
      try {
        in.addData((90001L, dupText),
          (90002L, "zzqx wvut plomk jrhsd unseen gibberish tokens"))
        q.processAllAvailable()
      } finally q.stop()
      // the planted copy flags against corpus doc 7 at jaccard 1.0 and
      // matches the BATCH index path bit-for-bit; the gibberish doc
      // flags nothing
      assert(buf.exists(p => p._1 == 7L && p._2 == 90001L && p._3 == 1.0),
        s"planted dup not flagged: $buf")
      assert(!buf.exists(_._2 == 90002L))
      val batch = graft.llm.Dedup.nearDupPairsAgainstIndex(
          spark.createDataFrame(Seq((90001L, dupText), (90002L, "zzqx wvut plomk")))
            .toDF("doc_id", "text"),
          "doc_id", "text", "ndi_s", threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(buf.toSet == batch, s"stream $buf != batch $batch")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ndi_s_bands")
      spark.sql("DROP TABLE IF EXISTS ndi_s_shingles")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("admissionStream: passing batches land, violating batches quarantine with their report, stream survives") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.operators.Checks
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_adm_s").toString
    val (good, quar, ckpt) = (s"$base/good", s"$base/quarantine", s"$base/ckpt")
    try {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.Streams.admissionStream(
        in.toDF().toDF("doc_id", "text"),
        Seq(Checks.NotNull("text"), Checks.Unique(Seq("doc_id"))),
        good, quar, ckpt).start()
      try {
        in.addData((1L, "clean doc one"), (2L, "clean doc two"))
        q.processAllAvailable()
        in.addData((3L, "dup id batch"), (3L, "same id again"))
        q.processAllAvailable()
        in.addData((5L, "clean again after the bad hour"))
        q.processAllAvailable()
      } finally q.stop()
      val landed = spark.read.parquet(good)
      assert(landed.select("doc_id").collect().map(_.getLong(0)).sorted
        .sameElements(Array(1L, 2L, 5L)),
        "both clean batches must land; the violating one must not")
      val qRows = spark.read.parquet(s"$quar/batch_id=1/rows")
      assert(qRows.count() == 2L, "the violating batch parks wholesale")
      val rep = spark.read.parquet(s"$quar/batch_id=1/report")
        .filter(!col("passed")).collect()
      assert(rep.length == 1 && rep.head.getString(0) == "unique",
        s"the quarantine report names the failing constraint: ${rep.toSeq}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(base))
  }

  test("windowsLandingStream: each micro-batch lands as a mini-shard; gate drops dups; report all-green; replay idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val idx = java.nio.file.Files.createTempDirectory("graft_wls_idx").toString
    val base = java.nio.file.Files.createTempDirectory("graft_wls").toString
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
      graft.llm.Dedup.writeNearDupIndex(docs.filter(col("doc_id") < 200),
        "doc_id", "text", "wls_t", idx)
      val corpusText = docs.filter(col("doc_id") === 7)
        .select("text").collect().head.getString(0)
      val batch1 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 230)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.Streams.windowsLandingStream(
        in.toDF().toDF("doc_id", "text"),
        spark.emptyDataFrame.select(lit(0L).as("doc_id"),
          lit("").as("text")).limit(0),
        "doc_id", "text", "wls_t", idx, out, 64L, ckpt,
        redactPii = false).start()
      try {
        in.addData(batch1.toSeq: _*)
        q.processAllAvailable()
        in.addData((90001L, corpusText),     // exact dup vs corpus -> drops
          (90002L, "glaciers carve patient valleys while auroras paint " +
            "the winter sky in silent green ribbons"))
        q.processAllAvailable()
      } finally q.stop()
      val win = spark.read.parquet(out)
      val shards = win.select("shard_label").distinct()
        .collect().map(_.getString(0)).sorted
      assert(shards.sameElements(Array("stream-0", "stream-1")), shards.toSeq)
      // batch 2's dup dropped: its shard holds only the fresh doc's mass
      val b2tok = win.filter(col("shard_label") === "stream-1")
        .agg(sum("n_tokens")).head().getLong(0)
      val freshTok = 14L // tokens of the fresh doc above
      assert(b2tok == freshTok,
        s"dup must drop from the streamed shard: $b2tok != $freshTok")
      // the landing is the BATCH layout: report all-green, fsck holds
      val rep = graft.llm.Pipeline.windowsReport(spark, out,
        Some(docs.unionByName(df(docSchema,
          Row(90002L, "glaciers carve patient valleys while auroras " +
            "paint the winter sky in silent green ribbons"))))).collect()
      assert(rep.forall(r => r.getBoolean(5) && r.getBoolean(7)),
        s"streamed shards must pass the fsck: ${rep.toSeq}")
      // replay idempotence: the same batch label O(1)-returns
      val again = graft.llm.Pipeline.ingestWindowsShard(
        df(docSchema, batch1.map(p => Row(p._1, p._2)): _*),
        df(docSchema), "doc_id", "text", "wls_t", idx, out, 64L,
        "stream-0", redactPii = false)
      assert(again("landed") > 0 &&
        spark.read.parquet(out).select("shard_label").distinct().count() == 2,
        "a replayed stream batch must not land a new shard")
    } finally {
      Seq("bands", "shingles", "keys").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS wls_t_$t"))
      Seq(idx, base).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("windowsLandingStream with the PACKED layout: streamed mini-shards land fixed-shape padded windows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft_wlp_idx").toString
    val mdl = java.nio.file.Files.createTempDirectory("graft_wlp_bpe").toString
    val base = java.nio.file.Files.createTempDirectory("graft_wlp").toString
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
      graft.llm.Dedup.writeNearDupIndex(docs.filter(col("doc_id") < 200),
        "doc_id", "text", "wlp_t", idx)
      graft.llm.Bpe.writeBpeModel(docs.filter(col("doc_id") < 200),
        "text", "wlp_bpe", mdl, numMerges = 4)
      val vocab = graft.llm.Bpe.vocabMap(spark.table("wlp_bpe_bpe_vocab"))
      val (eod, pad) = (vocab.values.max + 1L, vocab.values.max + 2L)
      val bw = graft.llm.Pipeline.BpeWindows("wlp_bpe", mdl,
        eodId = Some(eod), packed = true, padId = Some(pad),
        segmentDocs = 8)
      val batch = docs.filter(col("doc_id") >= 200 && col("doc_id") < 230)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.Streams.windowsLandingStream(
        in.toDF().toDF("doc_id", "text"),
        spark.emptyDataFrame.select(lit(0L).as("doc_id"),
          lit("").as("text")).limit(0),
        "doc_id", "text", "wlp_t", idx, out, 64L, ckpt,
        redactPii = false, bpeWindows = Some(bw)).start()
      try {
        in.addData(batch.toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      val win = spark.read.parquet(out)
      assert(win.count() > 0)
      win.select("window_ids", "n_tokens").collect().foreach { r =>
        val ids = r.getSeq[Long](0)
        val n = r.getLong(1)
        assert(ids.length == 64 && n <= 64L)
        assert(ids.drop(n.toInt).forall(_ == pad) &&
          ids.take(n.toInt).forall(_ != pad))
      }
      // the fsck counts REAL ids in the stamped unit on the streamed shard
      assert(graft.llm.Pipeline.windowsReport(spark, out, Some(docs),
          bpeWindows = Some(bw))
        .collect().forall(_.getAs[Boolean]("tokens_match")))
    } finally {
      Seq("bands", "shingles", "keys").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS wlp_t_$t"))
      Seq("wlp_bpe_bpe", "wlp_bpe_bpe_vocab").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      Seq(idx, mdl, base).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("windowsLandingStream with the STRIDED (eval) layout: streamed mini-shards land overlapping windows, fsck green") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft_wse_idx").toString
    val mdl = java.nio.file.Files.createTempDirectory("graft_wse_bpe").toString
    val base = java.nio.file.Files.createTempDirectory("graft_wse").toString
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
      graft.llm.Dedup.writeNearDupIndex(docs.filter(col("doc_id") < 200),
        "doc_id", "text", "wse_t", idx)
      graft.llm.Bpe.writeBpeModel(docs.filter(col("doc_id") < 200),
        "text", "wse_bpe", mdl, numMerges = 4)
      val bw = graft.llm.Pipeline.BpeWindows("wse_bpe", mdl,
        stride = Some(25L))
      val batch = docs.filter(col("doc_id") >= 200 && col("doc_id") < 230)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.Streams.windowsLandingStream(
        in.toDF().toDF("doc_id", "text"),
        spark.emptyDataFrame.select(lit(0L).as("doc_id"),
          lit("").as("text")).limit(0),
        "doc_id", "text", "wse_t", idx, out, 60L, ckpt,
        redactPii = false, bpeWindows = Some(bw)).start()
      try {
        in.addData(batch.toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      val win = spark.read.parquet(out)
      assert(win.count() > 0)
      // the streamed shard is genuinely STRIDED: full windows overlap
      // their successor by windowSize - stride ids
      val perSplit = win
        .select("split", "window_id", "window_ids", "n_tokens").collect()
        .groupBy(_.getString(0))
      var overlaps = 0
      perSplit.values.foreach { rows =>
        rows.sortBy(_.getLong(1)).sliding(2).foreach {
          case Array(a, b) if a.getLong(3) == 60L =>
            assert(a.getSeq[Long](2).drop(25) ==
              b.getSeq[Long](2).take(35))
            overlaps += 1
          case _ => ()
        }
      }
      assert(overlaps > 0, "fixture must exercise real overlaps")
      // the closed-form fsck prices the streamed landing exactly
      assert(graft.llm.Pipeline.windowsReport(spark, out, Some(docs),
          bpeWindows = Some(bw), windowSize = Some(60L))
        .collect().forall(_.getAs[Boolean]("tokens_match")))
    } finally {
      Seq("bands", "shingles", "keys").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS wse_t_$t"))
      Seq("wse_bpe_bpe", "wse_bpe_bpe_vocab").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      Seq(idx, mdl, base).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("ingestGateStream filters quality, redacts PII, dedups within watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val gated = graft.streaming.Streams.ingestGateStream(
      in.toDF().toDF("doc_id", "ts", "text"), "ts", "text", "10 minutes")
    val buf = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = gated.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf ++= b.select("doc_id", "text").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        ()
      }.start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    try {
      in.addData(
        (1L, t0, "a perfectly ordinary document about rivers and stones"),
        (2L, t0, "hi"),                                      // quality drop
        (3L, t0, "email me at jane.doe@example.com for the dataset details"),
        (5L, t0, "buy now buy now buy now buy now buy now")) // top-2-gram drop
      q.processAllAvailable()
      // second batch: canonicalized duplicate of doc 1 — dropped by the
      // watermark STATE, not intra-batch ordering
      in.addData((4L, t0, "A  perfectly ordinary DOCUMENT about rivers and stones"))
      q.processAllAvailable()
    } finally q.stop()
    val got = buf.toMap
    assert(got.keySet == Set(1L, 3L), s"wrong survivors: $buf")
    assert(got(3L) == "email me at [EMAIL] for the dataset details")
  }

  test("streaming runningSum carries state across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    val agg = graft.streaming.Streams.runningSum(
      in.toDF().toDF("k", "v"), "k", "v")
    val q = agg.writeStream.format("memory").queryName("run_test")
      .outputMode("update").start()
    try {
      in.addData(("a", 1.0), ("a", 2.0), ("b", 5.0))
      q.processAllAvailable()
      in.addData(("a", 4.0))
      q.processAllAvailable()
      val rows = spark.table("run_test").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      // latest emission per key = state accumulated across both batches
      val latest = rows.groupBy(_._1).view.mapValues(_.maxBy(_._3)).toMap
      assert(latest("a") == (("a", 7.0, 3L)))
      assert(latest("b") == (("b", 5.0, 1L)))
    } finally q.stop()
  }

  test("streaming runningSumWithTtl evicts idle keys after the TTL") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    val agg = graft.streaming.Streams.runningSumWithTtl(
      in.toDF().toDF("k", "v"), "k", "v", "1 second")
    // A REAL trigger interval, and polling instead of
    // processAllAvailable: with ProcessingTimeTimeout the engine keeps
    // scheduling timeout-check batches, so processAllAvailable never
    // sees a settled stream (observed hang) — the timeout machinery
    // needs the clock, not an all-available barrier.
    val q = agg.writeStream.format("memory").queryName("ttl_test")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def rowsFor(key: String): Seq[(Double, Long)] =
      spark.table("ttl_test").collect().toSeq
        .filter(_.getString(0) == key).map(r => (r.getDouble(1), r.getLong(2)))
    def awaitRow(key: String, want: (Double, Long), timeoutMs: Long = 30000): Unit = {
      val deadline = System.currentTimeMillis + timeoutMs
      while (!rowsFor(key).contains(want)) {
        assert(System.currentTimeMillis < deadline,
          s"timed out waiting for $key -> $want; saw ${rowsFor(key)}")
        Thread.sleep(100)
      }
    }
    try {
      in.addData(("a", 1.0), ("b", 1.0))
      awaitRow("a", (1.0, 1L))
      // a stays idle past its 1s TTL; timeout-check batches keep firing
      // on the 100ms trigger, so eviction happens without new input.
      // Wait for the eviction FLUSH row (a second (1.0, 1) emission for
      // a) before sending a's return — on a stalled host, racing the
      // return against the timeout batch would legitimately accumulate.
      val deadline = System.currentTimeMillis + 30000
      while (rowsFor("a").count(_ == ((1.0, 1L))) < 2) {
        assert(System.currentTimeMillis < deadline,
          s"timed out waiting for a's eviction flush; saw ${rowsFor("a")}")
        Thread.sleep(100)
      }
      // a returns AFTER eviction: state must restart from zero —
      // (5,1), never (6,2), which would mean the idle state survived
      in.addData(("a", 5.0))
      awaitRow("a", (5.0, 1L))
      assert(!rowsFor("a").contains((6.0, 2L)),
        s"idle state survived the TTL: ${rowsFor("a")}")
    } finally q.stop()
  }

  test("stream-stream interval join matches clicks within the window") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val imps = MemoryStream[(java.sql.Timestamp, String, Long)]
    val clicks = MemoryStream[(java.sql.Timestamp, String, Long)]
    val joined = graft.streaming.Streams.intervalJoin(
      imps.toDF().toDF("its", "k", "imp_id"),
      "its",
      clicks.toDF().toDF("cts", "k", "click_id"),
      "cts", Seq("k"), within = "10 minutes", watermarkDelay = "1 minute")
    val q = joined.select("imp_id", "click_id")
      .writeStream.format("memory").queryName("ivj_test")
      .outputMode("append").start()
    try {
      imps.addData((ts(0), "u1", 1L), (ts(5), "u2", 2L), (ts(10), "u3", 3L))
      // u1: click 4 min after -> match; u2: 15 min after -> outside the
      // interval; u3: click BEFORE the impression -> no match
      clicks.addData((ts(4), "u1", 101L), (ts(20), "u2", 102L), (ts(8), "u3", 103L))
      q.processAllAvailable()
      val got = spark.table("ivj_test").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(got == Set(1L -> 101L), s"got $got")
    } finally q.stop()
  }

  test("streaming session windows and watermark dedup") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = graft.streaming.Streams.sessionAgg(
      in.toDF().toDF("ts", "k", "v"), "ts", "5 minutes", "1 minute", Seq("k"),
      org.apache.spark.sql.functions.sum($"v").as("s"))
    val q = agg.writeStream.format("memory").queryName("sess_test")
      .outputMode("complete").start()
    try {
      in.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "a", 1.0),
        (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), "a", 2.0),  // same session
        (java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "a", 5.0))  // new session
      q.processAllAvailable()
      val sums = spark.table("sess_test").collect().map(_.getAs[Double]("s")).sorted
      assert(sums.toSeq == Seq(3.0, 5.0))
    } finally q.stop()

    val in2 = MemoryStream[(java.sql.Timestamp, Long)]
    val dd = graft.streaming.Streams.dedup(
      in2.toDF().toDF("ts", "id"), "ts", "10 minutes", Seq("id"))
    val q2 = dd.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      in2.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1L),
        (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 1L),  // dup within watermark
        (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), 2L))
      q2.processAllAvailable()
      assert(spark.table("dedup_test").count() == 2)
    } finally q2.stop()
  }

  test("stream-static enrich joins dimension attributes per micro-batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dim = Seq(("a", "alpha"), ("b", "beta")).toDF("k", "label")
    val in = MemoryStream[(String, Double)]
    val out = graft.streaming.Streams.enrich(
      in.toDF().toDF("k", "v"), dim, Seq("k"))
    val q = out.writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try {
      in.addData(("a", 1.0), ("c", 2.0))
      q.processAllAvailable()
      val rows = spark.table("enrich_test").collect()
        .map(r => r.getString(0) -> Option(r.getString(2))).toMap
      assert(rows == Map("a" -> Some("alpha"), "c" -> None))
    } finally q.stop()
  }

  test("streaming decontamination filters contaminated docs statelessly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val bench = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(100L, "the quick brown fox jumps over the lazy dog"))
    val in = MemoryStream[(Long, String)]
    val out = graft.streaming.Streams.decontaminateStream(
      in.toDF().toDF("doc_id", "text"), bench, "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("decontam_stream")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, "we saw the quick brown fox jumps over a fence"), // overlaps
        (2L, "totally clean document with no benchmark overlap at all"),
        (3L, "tiny"),                                          // <k tokens
        (4L, null))                                            // null text → keep
      q.processAllAvailable()
      val kept = spark.table("decontam_stream").collect().map(_.getLong(0)).sorted
      assert(kept.sameElements(Array(2L, 3L, 4L)), s"kept: ${kept.toSeq}")
    } finally q.stop()
  }

  test("streaming windowedAgg equals batch Resample.agg on the same rows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{sum, count, col}
    implicit val sq = spark.sqlContext
    val rows = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), "a", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:04:00"), "a", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:06:10"), "a", 4.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:07:00"), "b", 8.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:11:00"), "a", 16.0))
    // streaming: tumbling 5m windows, incremental state
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = graft.streaming.Streams.windowedAgg(
      in.toDF().toDF("ts", "k", "v"), "ts", "5 minutes", "1 minute", Seq("k"),
      sum($"v").as("s"), count($"v").as("n"))
    val q = agg.writeStream.format("memory").queryName("par_test")
      .outputMode("complete").start()
    val streamed = try {
      in.addData(rows.take(3)); q.processAllAvailable()
      in.addData(rows.drop(3)); q.processAllAvailable()
      spark.table("par_test").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("bucket"), r.getAs[String]("k"),
          r.getAs[Double]("s"), r.getAs[Long]("n"))).toSet
    } finally q.stop()
    // batch: the same tumbling bins through Resample (plus the key)
    val batch = graft.operators.Resample
      .tumble(rows.toDF("ts", "k", "v"), "ts", "5 minutes")
      .groupBy(col("bucket"), col("k"))
      .agg(sum($"v").as("s"), count($"v").as("n"))
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("bucket"), r.getAs[String]("k"),
        r.getAs[Double]("s"), r.getAs[Long]("n"))).toSet
    assert(streamed == batch && batch.size == 4)
  }

  // ---- llm: text stats / multimodal ----

  test("qualityRules flags repetition and keeps normal prose") {
    val docs = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(1L, "a perfectly ordinary sentence about nothing much"),
      Row(2L, "buy now buy now buy now buy now"),          // top-2gram spam
      Row(3L, "line one\nline one\nline one\nend ad"),     // dup lines
      Row(4L, "hi"))                                       // too short
    val got = TextStats.qualityRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(r.fieldIndex("keep")),
         r.getDouble(r.fieldIndex("frac_top_2gram")),
         r.getDouble(r.fieldIndex("frac_dup_lines")))).toMap
    assert(got(1L)._1, s"normal prose dropped: ${got(1L)}")
    assert(!got(2L)._1 && got(2L)._2 > 0.5, s"spam kept: ${got(2L)}")
    assert(!got(3L)._1 && got(3L)._3 == 0.5, s"dup lines kept: ${got(3L)}")
    assert(!got(4L)._1, "too-short doc kept")
  }

  test("gopherKeep: each published rule fires on its planted doc, boundaries inclusive") {
    val sch = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val good = (Seq.fill(56)("word") ++ Seq("the", "of", "and", "that"))
      .mkString(" ")
    val docs = df(sch,
      Row(1L, good),                                       // passes all
      Row(2L, good.replace("word", "w")),                  // mean len < 3
      Row(3L, Seq.fill(60)("abcdefghijklm").mkString(" ")
        + " the of"),                                      // mean len > 10
      Row(4L, good + " " + Seq.fill(12)("#").mkString(" ")), // symbols
      Row(5L, Seq.fill(20)("- bullet the of item line here").mkString("\n")), // bullets
      Row(6L, Seq.fill(10)("some of the line goes on...").mkString("\n")),    // ellipses
      Row(7L, (Seq.fill(45)("word") ++ Seq.fill(13)("123")
        ++ Seq("the", "of")).mkString(" ")),               // alpha < 0.8
      Row(8L, Seq.fill(60)("lorem").mkString(" ")),        // no stop words
      Row(9L, null))
    val got = TextStats.gopherReport(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Boolean]("keep"), s"good doc dropped: ${got(1L)}")
    assert(!got(2L).getAs[Boolean]("keep")
      && got(2L).getAs[Double]("mean_word_len") < 3.0)
    assert(!got(3L).getAs[Boolean]("keep")
      && got(3L).getAs[Double]("mean_word_len") > 10.0)
    assert(!got(4L).getAs[Boolean]("keep")
      && got(4L).getAs[Double]("symbol_ratio") > 0.1)
    assert(!got(5L).getAs[Boolean]("keep")
      && got(5L).getAs[Double]("bullet_line_frac") > 0.9)
    assert(!got(6L).getAs[Boolean]("keep")
      && got(6L).getAs[Double]("ellipsis_line_frac") > 0.3)
    assert(!got(7L).getAs[Boolean]("keep")
      && got(7L).getAs[Double]("alpha_word_frac") < 0.8)
    assert(!got(8L).getAs[Boolean]("keep")
      && got(8L).getAs[Long]("stop_hits") == 0L)
    // null text: metrics null, keep null — never a throw
    assert(got(9L).isNullAt(got(9L).fieldIndex("keep")))
    // boundary inclusivity: exactly 50 words with healthy stats passes
    val fifty = (Seq.fill(46)("word") ++ Seq("the", "of", "and", "that"))
      .mkString(" ")
    val b = TextStats.gopherReport(df(sch, Row(10L, fifty)),
      "doc_id", "text").head()
    assert(b.getAs[Long]("n_words") == 50L && b.getAs[Boolean]("keep"))
    // filter composes with the repetition gate without extra passes —
    // a DISTINCT-word prose doc passes both; the repeated-word doc 1
    // passes Gopher but (correctly) fails qualityKeep's top-2-gram rule
    val prose = ((1 to 56).map(i => s"word$i")
      ++ Seq("the", "of", "and", "that")).mkString(" ")
    val both = docs.filter(col("text").isNotNull)
      .unionByName(df(sch, Row(11L, prose)))
      .filter(TextStats.gopherKeep(col("text"))
        && TextStats.qualityKeep(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(both == Seq(11L))
  }

  test("contaminationReport finds planted 5-gram overlap, decontaminate drops it") {
    val sch = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val bench = df(sch,
      Row(100L, "the quick brown fox jumps over the lazy dog tonight"),
      Row(101L, "completely unrelated benchmark prose about parquet files"))
    val train = df(sch,
      Row(1L, "we saw the quick brown fox jumps over a fence"),   // shares two 5-grams
      Row(2L, "nothing here overlaps with any benchmark document at all"),
      Row(3L, "short doc"))                                       // < 5 tokens: no shingles
    val rep = Dedup.contaminationReport(train, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "the quick brown fox jumps" and "quick brown fox jumps over"
    assert(rep == Map(1L -> 2L), s"expected only doc 1 with 2 overlaps, got $rep")
    val clean = Dedup.decontaminate(train, bench, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(clean.sameElements(Array(2L, 3L)), s"clean set wrong: ${clean.toSeq}")
  }

  test("dropRepeatedLines keeps first occurrences in original order") {
    val sch = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val d = df(sch,
      Row(1L, "b\na\nb\na"),
      Row(2L, "only line"),
      Row(3L, "x\nx\nx"))
    val got = TextStats.dropRepeatedLines(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "b\na", 2L -> "only line", 3L -> "x"))
  }

  test("TopGramFrac matches the declarative grouped gram counts bit-for-bit") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 200)
      .unionByName(df(
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
        Row(-2L, "buy now buy now buy now buy now"),
        Row(-3L, "one"), Row(-4L, ""), Row(-5L, "a  b")))  // <2 grams / empty-token edges
    val native = docs.select(col("doc_id"),
        graft.functions.TextHashExprs.topGramFrac(col("text"), 2).as("g"))
      .select(col("doc_id"), col("g.top_count"), col("g.total_count"))
    val toks = split(col("text"), " ")
    val n = size(toks)
    val declarative = docs.select(col("doc_id"),
        explode(zip_with(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
          (a, b) => concat_ws(" ", a, b))).as("g"))
      .groupBy("doc_id", "g").count()
      .groupBy("doc_id")
      .agg(max("count").cast("int").as("top_count"),
        sum("count").cast("int").as("total_count"))
    // docs with <2 tokens produce no declarative rows; native says (0, 0)
    val nat = native.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val dec = declarative.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(dec.forall { case (id, v) => nat(id) == v })
    assert(nat.keySet -- dec.keySet == Set(-3L, -4L) || (nat(-3L) == ((0, 0))))
    assert(nat(-3L) == ((0, 0)) && nat(-4L) == ((0, 0)))
  }

  test("dropBoilerplateLines strips corpus-frequent lines, keeps empty docs") {
    val sch = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val d = df(sch,
      Row(1L, "BANNER\nunique one"),
      Row(2L, "BANNER\nunique two"),
      Row(3L, "BANNER\nunique three"),
      Row(4L, "BANNER"),           // banner-only: survives with empty text
      Row(5L, "no banner here"))
    val got = TextStats.dropBoilerplateLines(d, "doc_id", "text", maxDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "unique one", 2L -> "unique two", 3L -> "unique three",
      4L -> "", 5L -> "no banner here"))
    // at the threshold (freq == maxDocFreq) lines are KEPT
    val kept = TextStats.dropBoilerplateLines(d.filter(col("doc_id") <= 3),
        "doc_id", "text", maxDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept(1L) == "BANNER\nunique one")
  }

  test("redactPii masks emails, phones, IPs and leaves clean text alone") {
    val sch = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val d = df(sch,
      Row(1L, "contact john.doe+spam@example.co.uk or call +1 (555) 123-4567 now"),
      Row(2L, "server at 192.168.1.100 logged jane_a99@sub.domain.io twice"),
      Row(3L, "no pii here, just text with numbers 42 and 3.14"))
    val got = d.select(col("doc_id"), TextStats.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "contact [EMAIL] or call [PHONE] now")
    assert(got(2L) == "server at [IP] logged [EMAIL] twice")
    assert(got(3L) == "no pii here, just text with numbers 42 and 3.14")
  }

  test("text stats quality frame values") {
    val d = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(1L, "the cat sat, the cat ran!"))
    val r = TextStats.qualityFrame(d, "doc_id", "text", Seq("the")).collect().head
    assert(r.getAs[Int]("n_tokens") == 6)
    assert(r.getAs[Int]("n_chars") == 25)
    assert(math.abs(r.getAs[Double]("type_token_ratio") - 4.0 / 6.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 2.0 / 6.0) < 1e-12)
    assert(r.getAs[Double]("punct_ratio") > 0.0)
    assert(r.getAs[String]("content_md5").length == 32)
  }

  test("multimodal byte triage: schema, byte count, checksum") {
    val d = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(1L, "AB"))
    val out = Multimodal.byteFeatures(
      Multimodal.withPayload(d, "text", "p"), "doc_id", "p").collect().head
    assert(out.getAs[Int]("n_bytes") == 2)
    assert(out.getAs[Int]("format_byte") == 'A'.toInt)
    assert(out.getAs[Long]("checksum") == ('A'.toInt + 'B'.toInt))
  }

  test("real PNG encode→decode round trip matches the pixel arithmetic") {
    val d = df(
      StructType(Seq(StructField("doc_id", LongType))),
      Row(0L), Row(7L), Row(41L))
    val out = Multimodal.decodeImageFeatures(
        Multimodal.synthPng(d, "doc_id"), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(0L, 7L, 41L)) {
      val (w, h) = Multimodal.dims(id)
      val expected = (for (y <- 0 until h; x <- 0 until w) yield {
        val (cr, cg, cb) = Multimodal.pixel(id, x, y)
        3L * cr + 5L * cg + 7L * cb
      }).sum % 1000000007L
      val r = out(id)
      assert(r.getAs[String]("format") == "png")
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      assert(r.getAs[Long]("checksum") == expected, s"checksum mismatch for id=$id")
    }
  }

  test("real nearest-neighbor resize: decoded output matches the NN source map") {
    val d = df(StructType(Seq(StructField("doc_id", LongType))), Row(5L))
    val (w, h) = Multimodal.dims(5L)
    val out = Multimodal.decodeImageFeatures(
        Multimodal.resizeImage(
          Multimodal.synthPng(d, "doc_id"), "doc_id", "payload", 8, 5),
        "doc_id", "payload")
      .collect().head
    val expected = (for (y <- 0 until 5; x <- 0 until 8) yield {
      val (cr, cg, cb) = Multimodal.pixel(5L, (x * w / 8), (y * h / 5))
      3L * cr + 5L * cg + 7L * cb
    }).sum % 1000000007L
    assert(out.getAs[Int]("width") == 8 && out.getAs[Int]("height") == 5)
    assert(out.getAs[String]("format") == "png")
    assert(out.getAs[Long]("checksum") == expected)
  }

  test("corrupt payloads flag instead of failing: truncated PNG and garbage") {
    import graft.llm.Multimodal
    // a REAL synthPng payload cut in half: valid magic, so a reader
    // claims it and then throws mid-decode — the r7 catch path, which the
    // old "not an image" fixture (ImageIO.read == null) never exercised
    val full = Multimodal.synthPng(
        df(StructType(Seq(StructField("doc_id", LongType))), Row(5L)),
        "doc_id")
      .collect().head.getAs[Array[Byte]]("payload")
    val truncated = full.take(full.length / 2)
    val payloads = df(
      StructType(Seq(StructField("doc_id", LongType),
        StructField("payload", BinaryType))),
      Row(1L, truncated),
      Row(2L, "not an image".getBytes("UTF-8")),
      Row(3L, full))
    val feats = Multimodal.decodeImageFeatures(payloads, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    // truncated: container sniff survives (png), -1 dims flag the decode
    assert(feats(1L).getAs[String]("format") == "png")
    assert(feats(1L).getAs[Int]("width") == -1 &&
      feats(1L).getAs[Int]("height") == -1 &&
      feats(1L).getAs[Long]("checksum") == -1L)
    // garbage: no container, same flag shape
    assert(feats(2L).getAs[String]("format") == "unknown")
    assert(feats(2L).getAs[Int]("width") == -1)
    // the intact sibling row in the same partition still decodes
    assert(feats(3L).getAs[String]("format") == "png" &&
      feats(3L).getAs[Int]("width") > 0)
    // resize keeps flagged rows (-1 dims, empty payload) instead of
    // dropping them — corpus accounting must see every input row
    val rs = Multimodal.resizeImage(payloads, "doc_id", "payload", 4, 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rs.keySet == Set(1L, 2L, 3L))
    assert(rs(1L).getAs[Int]("out_w") == -1 &&
      rs(1L).getAs[Array[Byte]]("payload").isEmpty)
    assert(rs(2L).getAs[Int]("out_w") == -1)
    assert(rs(3L).getAs[Int]("out_w") == 4 &&
      rs(3L).getAs[Array[Byte]]("payload").nonEmpty)
  }

  test("real WAV encode→decode round trip matches the sample arithmetic") {
    val d = df(
      StructType(Seq(StructField("doc_id", LongType))),
      Row(0L), Row(3L), Row(257L))
    val out = Multimodal.decodeAudioFeatures(
        Multimodal.synthWav(d, "doc_id"), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(0L, 3L, 257L)) {
      val n = Multimodal.wavFrames(id)
      val expected = {
        val s = (0 until n).map(i => Multimodal.wavSample(id, i).toLong).sum
        ((s % 1000000007L) + 1000000007L) % 1000000007L
      }
      val r = out(id)
      assert(r.getAs[Int]("sample_rate") == 8000 && r.getAs[Int]("channels") == 1)
      assert(r.getAs[Int]("bits") == 16 && r.getAs[Long]("frames") == n.toLong)
      assert(r.getAs[Long]("checksum") == expected, s"wav checksum mismatch id=$id")
    }
  }

  test("decodeAudioFeatures flags unparseable payloads instead of failing") {
    val d = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(1L, "not audio at all"))
    val out = Multimodal.decodeAudioFeatures(
      Multimodal.withPayload(d, "text", "p"), "doc_id", "p").collect().head
    assert(out.getAs[Int]("sample_rate") == -1)
    assert(out.getAs[Long]("frames") == -1L)
  }

  test("decodeImageFeatures flags undecodable payloads instead of failing") {
    val d = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(1L, "not an image"))
    val out = Multimodal.decodeImageFeatures(
      Multimodal.withPayload(d, "text", "p"), "doc_id", "p").collect().head
    assert(out.getAs[String]("format") == "unknown")
    assert(out.getAs[Int]("width") == -1)
  }

  test("framePlan fans out one row per frame") {
    val d = df(
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Row(1L, "x" * 200))
    val rows = Multimodal.framePlan(
      Multimodal.withPayload(d, "text", "p"), "doc_id", "p", 64).collect()
    assert(rows.length == 3) // floor(200/64)=3 frames
    assert(rows.map(_.getAs[Long]("offset")).toSet == Set(0L, 64L, 128L))
  }

  test("floorDiv/ceilDiv: boundary-exact at multiples of the divisor, negative numerators, and beyond 2^53") {
    import spark.implicits._
    // planted multiple-of-stride offsets: the window-id formulas'
    // exact boundaries (a double floor is safe here; the point is the
    // integer path lands the SAME values at every boundary)
    val bounds = Seq(-61L, -60L, -59L, -1L, 0L, 1L, 59L, 60L, 61L,
      119L, 120L,
      // the Long extremes: no intermediate may wrap (or throw under ANSI)
      Long.MinValue, Long.MinValue + 1, -(1L << 62), 1L << 62,
      Long.MaxValue - 1, Long.MaxValue)
    val got = bounds.toDF("a")
      .select(col("a"), graft.QHelp.floorDiv(col("a"), 60L).as("f"),
        graft.QHelp.ceilDiv(col("a"), 60L).as("c"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    bounds.foreach { a =>
      assert(got(a)._1 === java.lang.Math.floorDiv(a, 60L), s"floor $a")
      // floorDiv + (remainder != 0): -floorDiv(-a) wraps at Long.MinValue
      assert(got(a)._2 === java.lang.Math.floorDiv(a, 60L) +
        (if (java.lang.Math.floorMod(a, 60L) != 0L) 1L else 0L), s"ceil $a")
    }
    // beyond 2^53 the double path provably misrounds: 9007199254740995
    // rounds to ...96 as a double, so floor(x/3.0) gives ...332 — the
    // integer path must give the exact ...331
    val big = 9007199254740995L // 3 * 3002399751580331 + 2
    val exact = Seq(big).toDF("a")
      .select(graft.QHelp.floorDiv(col("a"), 3L)).head().getLong(0)
    assert(exact === 3002399751580331L)
    assert(math.floor(big.toDouble / 3.0).toLong === 3002399751580332L,
      "the double path should misround here — if not, the fixture is stale")
  }
}
