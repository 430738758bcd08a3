package graft

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Multimodal, Similarity}

/** Training-data pipeline operators: semantics pinned against independent
  * in-JVM reference computations (MessageDigest md5, hand-built sets). */
class PipelineSpec extends AnyFunSuite {
  import SparkFixture.spark

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def docsDf(texts: (Long, String)*) = {
    val schema = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("text", StringType), StructField("source", StringType),
      StructField("n_chars", LongType, false)))
    val rows = texts.map { case (id, t) => Row(id, t, s"src${id % 2}", t.length.toLong) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("fingerprint = first 16 md5 hex chars") {
    val got = docsDf((1L, "hello world")).select(TextFunctions.fingerprint(col("text")))
      .head().getString(0)
    assert(got == md5hex("hello world").take(16))
  }

  test("shingles: 3-word windows; short docs yield empty array") {
    val df = docsDf((1L, "a b c d"), (2L, "a b"))
    val got = df.select(col("doc_id"),
      TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L).isEmpty)
  }

  test("minhash matches an independent token-hash + Horner + affine computation") {
    import TextFunctions.{MinhashP => P, ShingleB => B}
    val text = "w1 w2 w3 w4 w5"
    val th = text.split(" ").map(t => java.lang.Long.parseLong(md5hex(t).take(8), 16))
    val shingleHashes = th.sliding(3).map(w => ((w(0) * B + w(1)) % P * B + w(2)) % P)
    val (a, b) = TextFunctions.minhashCoeffs(2)
    val expected = shingleHashes.map(h => (h * a + b) % P).min
    val got = docsDf((1L, text))
      .select(TextFunctions.minhashFromHashes(
        TextFunctions.hashedShingles(
          TextFunctions.tokenHashes(TextFunctions.tokens(col("text"))), 3), 2))
      .head().getLong(0)
    assert(got == expected)
  }

  test("simhash16 matches an independent bit-sum computation") {
    val text = "alpha beta gamma delta epsilon"
    val toks = text.split(" ")
    val expected = (0 until 16).map { j =>
      val sum = toks.map { t =>
        val nib = Integer.parseInt(md5hex(t).substring(j / 4, j / 4 + 1), 16)
        if (((nib >> (j % 4)) & 1) == 1) 1 else -1
      }.sum
      if (sum > 0) 1L << j else 0L
    }.sum
    val got = docsDf((1L, text)).select(TextFunctions.simhash16(col("text")))
      .head().getLong(0)
    assert(got == expected)
  }

  test("native simhash16FromTokens == nibble composition on varied inputs (round 13)") {
    // the d3 hot path switched to the one-digest-per-token native
    // expression; this pins it bit-identical to the oracle-portable
    // nibble composition across unicode, punctuation, repeats, empties
    val texts = Seq(
      "alpha beta gamma delta epsilon", "", "x", "a a a a a a",
      "héllo wörld ünïcode", "tabs\tand spaces  double", "123 456 789 0",
      "punct! @here #tag $5 6% (7) [8] {9}", "日本語 中文 한국어",
      (0 until 500).map(i => s"tok$i").mkString(" "))
    val df = docsDf(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    val both = df.select(col("doc_id"),
      TextFunctions.simhash16FromNibbles(
        TextFunctions.simhashNibbles(col("text"))).as("composed"),
      graft.expressions.SimHash16.simhash16FromTokens(
        TextFunctions.tokens(col("text"))).as("native")).collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"doc ${r.getLong(0)}: composed ${r.getLong(1)} != native ${r.getLong(2)}"))
  }

  test("exact dedup keeps the min-id copy and counts multiplicity") {
    val df = docsDf((1L, "same text here"), (2L, "same text here"), (3L, "different"))
    val groups = Dedup.exactGroups(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(groups(md5hex("same text here").take(16)) == (1L, 2L))
    assert(Dedup.exactDedup(df).select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("minhash LSH finds an exact-dup pair with jaccard 1.0 and skips disjoint docs") {
    val df = docsDf(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely unrelated words compose this other document text"))
    val pairs = Dedup.minhashPairs(df, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("dup clusters: min-id label propagation finds transitive components") {
    import SparkFixture.spark.implicits._
    // chain 1-2-3 (transitive: 1 and 3 never paired directly) + island 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val want = Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L))
    // both strategy rungs: driver union-find (default at this size) and the
    // distributed label-propagation loop (forced via maxDriverEdges = 0)
    for (threshold <- Seq(Long.MaxValue, 0L)) {
      val got = Dedup.dupClusters(pairs, maxDriverEdges = threshold).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"maxDriverEdges=$threshold")
    }
  }

  test("dup clusters: driver union-find equals the distributed loop on a random graph") {
    import SparkFixture.spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    // ~60 nodes, random edges: mixes singleton pairs, cliques-ish blobs,
    // and chains — the structural cases CC must agree on
    val edges = (1 to 80).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("id_a", "id_b")
    def canon(threshold: Long) =
      Dedup.dupClusters(df, maxDriverEdges = threshold).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(canon(Long.MaxValue) == canon(0L))
  }

  test("dup clusters: string ids cluster via the surrogate dictionary, both strategy rungs") {
    import SparkFixture.spark.implicits._
    // same chain + island shape as the long-id case, re-keyed as strings;
    // cluster_id must be the lexicographic min of each component
    val pairs = Seq(("doc_001", "doc_002"), ("doc_002", "doc_003"),
      ("doc_010", "doc_011")).toDF("id_a", "id_b")
    val want = Set(("doc_001", "doc_001", 3L), ("doc_002", "doc_001", 3L),
      ("doc_003", "doc_001", 3L), ("doc_010", "doc_010", 2L),
      ("doc_011", "doc_010", 2L))
    for (threshold <- Seq(Long.MaxValue, 0L)) {
      val got = Dedup.dupClusters(pairs, maxDriverEdges = threshold).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want, s"maxDriverEdges=$threshold")
    }
  }

  test("dup clusters: string-id output equals the long-id output under the id mapping") {
    import SparkFixture.spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    val edges = (1 to 80).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    def key(i: Long) = f"id_$i%04d" // zero-padded: lexicographic min == numeric min
    val longOut = Dedup.dupClusters(edges.toDF("id_a", "id_b")).collect()
      .map(r => (key(r.getLong(0)), key(r.getLong(1)), r.getLong(2))).toSet
    val strOut = Dedup.dupClusters(
        edges.map { case (a, b) => (key(a), key(b)) }.toDF("id_a", "id_b")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(strOut == longOut)
  }

  test("dup clusters: string driver fast path equals the dictionary path on non-ASCII ids") {
    import SparkFixture.spark.implicits._
    // the r15 driver fast path must reproduce the dictionary path's
    // cluster_id = min under Spark's BINARY string order. The adversarial
    // ids are where UTF-16 (Java String.compareTo) and UTF-8 byte order
    // DISAGREE: U+E000 sorts above a supplementary char in UTF-16 but
    // below it in UTF-8 — a driver path using String ordering would pick
    // the wrong component min here.
    val supp = new String(Character.toChars(0x10000)) // U+10000, surrogate pair
    val e000 = "\uE000a"                               // the divergent case
    val pairs = Seq((supp + "a", e000), (supp + "a", supp + "z"),
      ("\u00e9_a", "\u03b2_b")).toDF("id_a", "id_b")
    def canon(threshold: Long) =
      Dedup.dupClusters(pairs, maxDriverEdges = threshold).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val driver = canon(Long.MaxValue) // at/below threshold: driver union-find
    val dict = canon(0L)              // forced surrogate dictionary path
    assert(driver == dict)
    // the component min is the UTF-8-binary min U+E000a -- a driver path
    // ordering by Java String.compareTo (UTF-16) would pick U+10000a
    assert(driver.collect { case (_, cid, 3L) => cid } == Set(e000))
  }

  test("dup clusters: null ids fail loudly on both id-type paths") {
    import SparkFixture.spark.implicits._
    val nullLong = Seq((Some(1L), Some(2L)), (Some(2L), None))
      .toDF("id_a", "id_b")
    val eLong = intercept[IllegalArgumentException] { Dedup.dupClusters(nullLong) }
    assert(eLong.getMessage.contains("failed the LongType cast"))
    val nullStr = Seq(("a", "b"), ("b", null: String)).toDF("id_a", "id_b")
    val eStr = intercept[IllegalArgumentException] { Dedup.dupClusters(nullStr) }
    assert(eStr.getMessage.contains("NULL"))
  }

  test("dup clusters: mismatched id column types are rejected") {
    import SparkFixture.spark.implicits._
    val mixed = Seq(("a", 1L)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] { Dedup.dupClusters(mixed) }
    assert(e.getMessage.contains("share one id type"))
  }

  test("dup clusters: empty pair input returns an empty frame, not an NPE") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    val got = Dedup.dupClusters(empty)
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("doc_id", "cluster_id", "cluster_size"))
  }

  test("dup clusters: auto-halving converges a 30-node chain within default maxIter") {
    import SparkFixture.spark.implicits._
    // 29-hop path: the plain walk needs ~29 rounds > maxIter=20; the loop
    // must escalate to pointer halving on its own and still land the fixpoint
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(chain, maxDriverEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == (1L to 30L).map(i => (i, 1L, 30L)).toSet)
  }

  test("dup clusters: pointer halving converges a long chain to one component") {
    import SparkFixture.spark.implicits._
    // a 12-node path stresses O(diameter): halving must reach the fixpoint
    // within maxIter = ceil(log2(12)) + slack, and match the plain walk
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // halving gets a log-scale budget the plain walk couldn't meet (the
    // 11-hop path needs ~11 plain rounds); the plain walk gets the default
    for ((halving, budget) <- Seq((true, 8), (false, 20))) {
      val got = Dedup.dupClusters(chain, maxIter = budget, pointerHalving = halving,
          maxDriverEdges = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == (1L to 12L).map(i => (i, 1L, 12L)).toSet, s"halving=$halving")
    }
  }

  test("incremental dedup reports cross-side pairs only, never within-side") {
    val corpus = docsDf(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta eta"), // within-corpus dup: not reported
      (3L, "totally unrelated words live here now"))
    val fresh = docsDf(
      (10L, "alpha beta gamma delta epsilon zeta eta"), // dups corpus 1 and 2
      (11L, "fresh content with no corpus overlap at all"))
    val got = Dedup.minhashPairsAcross(corpus, fresh, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 1L), (10L, 2L)))
  }

  test("decontamination flags exactly the docs sharing an n-gram with the benchmark") {
    import graft.operators.Decontaminate
    // doc 0 (src0) is benchmark; doc 1 copies a 5-gram from it, doc 3 is clean
    val df = docsDf(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "noise alpha beta gamma delta epsilon more noise here"),
      (3L, "completely different words with no shared grams at all"))
    val got = Decontaminate.overlapReport(df, col("source") === "src0",
      shingleN = 5, minHits = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(got(1L)._2 && got(1L)._1 >= 1L, "doc 1 shares a 5-gram")
    assert(got(3L) == (0L, false), "doc 3 is clean")
    assert(!got.contains(0L), "benchmark docs are not reported")
    val clean = Decontaminate.clean(df, col("source") === "src0", shingleN = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(3L), "clean corpus = non-benchmark minus contaminated")
  }

  test("repetition metrics: dup n-gram fraction and top-token fraction are exact ratios") {
    val toksDf = docsDf((1L, "a a a b")).select(
      TextFunctions.tokens(col("text")).as("toks"),
      TextFunctions.tokenHashes(TextFunctions.tokens(col("text"))).as("th"))
    val r = toksDf.select(
      TextFunctions.dupRatioFromShingles(
        TextFunctions.hashedShingles(col("th"), 2)).as("dup2"),
      TextFunctions.topTokenRatio(col("toks")).as("top")).head()
    // 2-grams: (a,a) (a,a) (a,b) → 3 total, 2 distinct → dup 1/3; top = 3/4
    assert(r.getDouble(0) == 1.0 / 3.0)
    assert(r.getDouble(1) == 3.0 / 4.0)
    val short = docsDf((2L, "one")).select(
      TextFunctions.dupRatioFromShingles(
        TextFunctions.hashedShingles(
          TextFunctions.tokenHashes(TextFunctions.tokens(col("text"))), 2)).as("d"))
      .head().getDouble(0)
    assert(short == 0.0, "no n-grams → ratio 0, not NaN")
  }

  test("simhash banded pairs == brute-force hamming pairs (pigeonhole holds)") {
    val texts = Seq.tabulate(30)(i => s"word$i common base tokens plus word${i % 7} word${i % 3}")
    val df = docsDf(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    val banded = Dedup.simhashPairs(df, maxHamming = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashes = Dedup.simhashes(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 1
    } yield (a, b)).toSet
    assert(banded == brute)
  }

  test("ngram jaccard cap excludes oversized blocks and the audit reports them") {
    // 4 near-identical docs in one block (same source parity + len bucket),
    // 2 in another; cap=3 must drop every pair from the big block only
    val big = (0 until 4).map(i => (i * 2L, "aaaa bbbb cccc dddd eeee ffff"))
    val small = Seq(11L, 13L).map(id => (id, "zzzz yyyy xxxx wwww vvvv uuuu"))
    val df = docsDf(big ++ small: _*)
    val uncapped = Dedup.ngramJaccardPairs(df, threshold = 0.9, maxBlock = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == Set((0L, 2L), (0L, 4L), (0L, 6L), (2L, 4L), (2L, 6L), (4L, 6L), (11L, 13L)))
    val capped = Dedup.ngramJaccardPairs(df, threshold = 0.9, maxBlock = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((11L, 13L)))
    val audited = Dedup.oversizedBlocks(df, maxBlock = 3).collect()
      .map(r => (r.getString(0), r.getLong(2)))
    assert(audited.toSeq == Seq(("src0", 4L)))
  }

  test("native dot_product == HOF fold bit-for-bit on real embeddings") {
    import graft.functions.VectorFunctions
    val emb = graft.sources.Tables.embeddings(SparkFixture.spark, "/root/testdata/sf0.001")
    val both = emb.select(
      VectorFunctions.dot(col("embedding"), col("embedding")).as("native"),
      VectorFunctions.dotHof(col("embedding"), col("embedding")).as("hof"))
    // exact bit equality — same left-fold arithmetic, no tolerance
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() == 500)
    // mismatched lengths yield NULL, like zip_with's null padding
    val r = SparkFixture.spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D)) AS d").head()
    assert(r.isNullAt(0))
  }

  test("embedding pairs cap excludes an oversized label block") {
    val schema = StructType(Seq(StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType, false)))
    val rows = (0 until 4).map(i => Row(i.toLong, Seq(1f, 0f), 0)) :+
      Row(10L, Seq(0f, 1f), 1) :+ Row(11L, Seq(0f, 1f), 1)
    val emb = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val all = Dedup.embeddingPairs(emb, threshold = 0.99)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(all == Set((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
    val capped = Dedup.embeddingPairs(emb, threshold = 0.99, maxBlock = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(capped == Set((10L, 11L)))
  }

  test("cosine: identical unit vectors → 1.0; orthogonal → 0.0") {
    val schema = StructType(Seq(StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType, false)))
    val rows = Seq(
      Row(0L, Seq(1f, 0f, 0f, 0f), 0), Row(1L, Seq(1f, 0f, 0f, 0f), 0),
      Row(2L, Seq(0f, 1f, 0f, 0f), 0), Row(3L, Seq(0.6f, 0.8f, 0f, 0f), 1))
    val emb = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val knn = Similarity.bruteForceKnn(emb, queryId = 0L, k = 4)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    assert(knn(0L) == 1.0 && knn(1L) == 1.0 && knn(2L) == 0.0)
    assert(math.abs(knn(3L) - 0.6) < 1e-7)
    val stats = Similarity.lshBucketStats(emb, bits = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // buckets: v0,v1 → bit0 only = 1; v2 → bit1 = 2; v3 → both = 3
    assert(stats == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("redaction: word-boundary terms only; counts match the replacements") {
    val df = docsDf((1L, "key keys monkey key"), (2L, "the customer key"))
    val got = df.select(col("doc_id"),
      TextFunctions.termCount(col("text"), "key").as("n"),
      TextFunctions.redactTerms(col("text"), Seq("customer", "key")).as("red"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    // "keys"/"monkey" survive: \b guards both ends of the term
    assert(got(1L) == ((2, "<PII> keys monkey <PII>")))
    assert(got(2L) == ((1, "the <PII> <PII>")))
  }

  test("chunking: stride windows cover every token; short docs yield one partial chunk") {
    import graft.operators.Corpus
    // 10 tokens, chunk 4, stride 2 -> kmax = ceil(6/2) = 3, starts 0,2,4,6
    val df = docsDf((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2L, "a b"))
    val got = Corpus.chunkByWindow(df, 4, 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    val d1 = got.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(t => (t._3, t._4)).toSeq == Seq((0, 4), (2, 4), (4, 4), (6, 4)))
    assert(d1.head._5 == "t0 t1 t2 t3" && d1.last._5 == "t6 t7 t8 t9")
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0, 0, 2, "a b")))
    intercept[IllegalArgumentException](Corpus.chunkByWindow(df, 4, 5))
  }

  test("chunking property: 60 seeded random docs reconstruct exactly from their chunks") {
    import graft.operators.Corpus
    val rnd = new scala.util.Random(20260813L)
    val docs = (0L until 60L).map { id =>
      val n = 1 + rnd.nextInt(50)
      id -> Seq.fill(n)(s"w${rnd.nextInt(30)}").mkString(" ")
    }
    val (c, s) = (7, 3) // non-divisible chunk/stride exercise the tail rule
    val chunks = Corpus.chunkByWindow(docsDf(docs: _*), c, s).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(4)))
      .groupBy(_._1).map { case (id, rs) =>
        id -> rs.sortBy(_._2).map(_._3).toSeq
      }
    docs.foreach { case (id, text) =>
      val toks = text.split(" ").toSeq
      val got = chunks(id)
      // stitching rule: first `stride` tokens of every chunk but the last,
      // then the whole last chunk == the original token stream (chunks
      // cover [k*s, k*s+c) and the last start is the first stride multiple
      // at or past n-c — so the union is exact, ordered, and gap-free)
      val stitched = got.init.flatMap(_.split(" ").take(s)) ++ got.last.split(" ")
      assert(stitched == toks, s"doc $id: $got")
      // every chunk except the last is full-width
      got.init.foreach(ch => assert(ch.split(" ").length == c))
    }
  }

  test("scored mixture: budgets fill best-first, not hash-first") {
    import graft.operators.Corpus
    import graft.sql.ZxSql
    // src0 (even ids): 4-token docs with quality = doc_id/20 — the
    // best-first fill must take the HIGHEST ids, whatever their hash
    val docs = docsDf((1L to 20L).map(i => (i, "w w w w")): _*)
    val got = Corpus.mixtureByTokenBudgetScored(docs,
      budgets = Map("src0" -> 10L),
      score = col("doc_id").cast("double") / 20.0)
      .collect().map(_.getLong(0)).toSet
    // prefix sums 0,4,8 < 10 → exactly the top-3 even ids {20, 18, 16}
    assert(got == Set(20L, 18L, 16L))
    // same budget hash-ordered picks a DIFFERENT (hash-determined) trio
    val hashed = Corpus.mixtureByTokenBudget(docs, Map("src0" -> 10L))
      .collect().map(_.getLong(0)).toSet
    assert(hashed.size == 3 && hashed != got)
    // face == API; score clause parses with scale; guards hold
    val viaSql = ZxSql.run(docs,
      "select mixture score doc_id scale 20 src0=10")
      .collect().map(_.getLong(0)).toSet
    assert(viaSql == got)
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select mixture score s scale 0 src0=10"))
  }

  test("mixtureByTokenBudget: greedy prefix cut, <1-doc overshoot, pre-filter invisible") {
    import graft.operators.Corpus
    // 20 docs across two sources, 3 tokens each (doc "w w w")
    val docs = docsDf((1L to 20L).map(i => (i, "w w w")): _*)
    // src1 (odd ids): budget 7 → greedy keeps docs until prefix >= 7:
    // prefix sums 0,3,6 < 7 → exactly 3 docs (9 tokens, overshoot 2 < 3)
    val got = Corpus.mixtureByTokenBudget(docs,
      budgets = Map("src1" -> 7L, "src0" -> 1000L), buckets = 16)
    val bySrc = got.collect().groupBy(_.getString(1))
    assert(bySrc("src1").length == 3)
    assert(bySrc("src0").length == 10) // budget > corpus → admit all
    // pre-filter invisibility: the bucket-cutoff pre-filter must match a
    // full-window reference computed WITHOUT it, at the same bucket count
    // (the greedy order is (bucket, id), so it is a function of `buckets`)
    val a = Corpus.mixtureByTokenBudget(docs, Map("src1" -> 7L), buckets = 16)
      .collect().map(_.getLong(0)).toSet
    val wRef = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("__b").asc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ref = docs.filter(col("source") === "src1")
      .withColumn("__b", Corpus.hashBucket(col("doc_id"), 16))
      .withColumn("__nt", size(TextFunctions.tokens(col("text"))).cast("long"))
      .withColumn("__p", coalesce(sum(col("__nt")).over(wRef), lit(0L)))
      .filter(col("__p") < 7).collect().map(_.getLong(0)).toSet
    assert(a == ref && a.size == 3)
    // kept set is a prefix of the hash order: a smaller budget at the
    // same bucket count keeps a strict subset
    val small = Corpus.mixtureByTokenBudget(docs, Map("src1" -> 4L), buckets = 16)
      .collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(a) && small.size == 2)
    // guards
    intercept[IllegalArgumentException](Corpus.mixtureByTokenBudget(docs, Map.empty))
    intercept[IllegalArgumentException](Corpus.mixtureByTokenBudget(docs, Map("src1" -> 0L)))
    intercept[IllegalArgumentException](
      Corpus.mixtureByTokenBudget(docs, Map("src1" -> 1L), buckets = 1))
    // SQL face: WHERE gates BEFORE budgeting, budgets parse as src=tokens
    import graft.sql.ZxSql
    val viaSql = ZxSql.run(docs, "select mixture src1=7, src0=1000")
      .collect().map(_.getLong(0)).toSet
    val viaApi = Corpus.mixtureByTokenBudget(docs, Map("src1" -> 7L, "src0" -> 1000L))
      .collect().map(_.getLong(0)).toSet
    assert(viaSql == viaApi)
    assertThrows[ZxSql.ParseError](ZxSql.parse("select mixture"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select mixture src1=0"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select mixture src1=5, src1=9"))
  }

  test("multimodal: packWav emits a valid RIFF container; decodeWav round-trips it") {
    val text = "some document payload"
    val df = docsDf((7L, text))
    val packed = Multimodal.packWav(df)
    val blob = packed.head().getAs[Array[Byte]]("payload")
    // real WAV container: magics + header arithmetic
    assert(new String(blob, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(blob, 8, 4, "US-ASCII") == "WAVE")
    assert(blob.length == 44 + text.length * 2)
    val dec = Multimodal.decodeWav(packed).head()
    // doc 7 -> rate = 8000*(1 + 7%3) = 16000; samples = (ascii-96)*256
    assert(dec.getAs[Int]("sample_rate") == 16000)
    assert(dec.getAs[Int]("channels") == 1 && dec.getAs[Int]("bits") == 16)
    assert(dec.getAs[Long]("n_samples") == text.length.toLong)
    assert(dec.getAs[Long]("duration_ms") == text.length * 1000L / 16000)
    val samples = text.map(c => (c.toInt - 96) * 256)
    assert(dec.getAs[Int]("peak") == samples.map(math.abs).max)
    val rms = math.sqrt(samples.map(s => s.toDouble * s).sum / samples.length)
    assert(math.abs(dec.getAs[Double]("rms") - rms) < 1e-6)
  }

  test("multimodal: packBmp emits a valid padded bottom-up BMP; decodeBmp round-trips it") {
    // doc 7 -> width = 6 + 7%5*2 = 10, stride = ceil(30/4)*4 = 32 (padded)
    val text = "some document payload"
    val df = docsDf((7L, text))
    val packed = Multimodal.packBmp(df)
    val blob = packed.head().getAs[Array[Byte]]("payload")
    assert(blob(0) == 'B'.toByte && blob(1) == 'M'.toByte)
    val h = (text.length + 29) / 30 // ceil(21/30) = 1
    assert(blob.length == 54 + 32 * h)
    val dec = Multimodal.decodeBmp(packed).head()
    assert(dec.getAs[Int]("width") == 10 && dec.getAs[Int]("height") == h)
    assert(dec.getAs[Long]("n_px") == 10L * h)
    // channel sums straight from the text bytes (B,G,R = offsets 0,1,2 mod 3)
    def chanMean(c: Int): Double =
      text.getBytes("US-ASCII").zipWithIndex.collect {
        case (b, i) if i % 3 == c => (b & 0xff).toLong
      }.sum.toDouble / (10L * h)
    assert(math.abs(dec.getAs[Double]("mean_b") - chanMean(0)) < 1e-6)
    assert(math.abs(dec.getAs[Double]("mean_g") - chanMean(1)) < 1e-6)
    assert(math.abs(dec.getAs[Double]("mean_r") - chanMean(2)) < 1e-6)
    // top-left pixel = text bytes 0..2 — read from the LAST stored row,
    // which pins bottom-up order (channel means alone are order-blind)
    assert(dec.getAs[Int]("tl_b") == 's'.toInt &&
      dec.getAs[Int]("tl_g") == 'o'.toInt && dec.getAs[Int]("tl_r") == 'm'.toInt)
    // multi-row container: 61 chars at width 6 (doc 5) -> h = ceil(61/18)=4
    val dec2 = Multimodal.decodeBmp(Multimodal.packBmp(
      docsDf((5L, "x" * 60 + "q")))).head()
    assert(dec2.getAs[Int]("width") == 6 && dec2.getAs[Int]("height") == 4)
    assert(dec2.getAs[Int]("tl_b") == 'x'.toInt)
  }

  test("multimodal: resizeBmp samples the nearest-neighbor grid; x2 twice == x4") {
    // doc 7: w=10, text 21 chars -> h=1; x2 -> w2=5, out pixels sample
    // in-pixels 0,2,4,6,8 = byte triples at 0,6,12,18,24 (24.. are padding)
    val text = "some document payload"
    val df = docsDf((7L, text))
    val small = Multimodal.resizeBmp(Multimodal.packBmp(df), 2)
    val dec = Multimodal.decodeBmp(small).head()
    assert(dec.getAs[Int]("width") == 5 && dec.getAs[Int]("height") == 1)
    val bytes = text.getBytes("US-ASCII").map(_ & 0xff)
    def at(i: Int): Long = if (i < bytes.length) bytes(i).toLong else 0L
    def mean(c: Int): Double = (0 until 5).map(x => at(6 * x + c)).sum.toDouble / 5
    assert(math.abs(dec.getAs[Double]("mean_b") - mean(0)) < 1e-6)
    assert(math.abs(dec.getAs[Double]("mean_r") - mean(2)) < 1e-6)
    // top-left pixel is a fixpoint of nearest-neighbor resize
    assert(dec.getAs[Int]("tl_b") == 's'.toInt)
    // composition law: two x2 passes == one x4 pass, byte-for-byte
    val multiRow = docsDf((3L, "y" * 100)) // w=12 -> h=3
    val twice = Multimodal.decodeBmp(Multimodal.resizeBmp(
      Multimodal.resizeBmp(Multimodal.packBmp(multiRow), 2), 2)).head()
    val once = Multimodal.decodeBmp(
      Multimodal.resizeBmp(Multimodal.packBmp(multiRow), 4)).head()
    assert(twice == once)
    assert(twice.getAs[Int]("width") == 3 && twice.getAs[Int]("height") == 1)
    intercept[IllegalArgumentException](Multimodal.resizeBmp(df.select(col("doc_id"),
      lit(Array[Byte](1, 2)).as("payload")), 0))
  }

  test("multimodal: imageDHash matches the independent grid model; near-dup pairs behave") {
    // independent in-test replay of the dHash rule from the synthesis
    // formula (never from the operator's own byte-walk)
    def model(id: Long, text: String): Seq[Int] = {
      val bytes = text.getBytes("US-ASCII").map(_ & 0xff)
      val w = (6 + (id % 5) * 2).toInt
      val h = math.max(1, (bytes.length + 3 * w - 1) / (3 * w))
      def gray(gx: Int, gy: Int): Int = {
        val sx = gx * w / 9; val sy = gy * h / 8
        (0 until 3).map { c =>
          val i = 3 * (sy * w + sx) + c
          if (i < bytes.length) bytes(i) else 0
        }.sum
      }
      var hash = 0L
      for (i <- 0 until 64) {
        val gx = i % 8; val gy = i / 8
        if (gray(gx + 1, gy) > gray(gx, gy)) hash |= 1L << i
      }
      Seq.tabulate(4)(b => ((hash >>> (16 * b)) & 0xFFFFL).toInt)
    }
    val docs = Seq(
      (3L, "the quick brown fox jumps over the lazy dog and keeps running on"),
      (7L, "some considerably longer document payload with plenty of variation"),
      (12L, "short doc"),
      (23L, "y" * 100))
    val got = Multimodal.imageDHash(Multimodal.packBmp(docsDf(docs: _*)))
      .collect().map(r => r.getLong(0) ->
        Seq(r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))).toMap
    for ((id, text) <- docs)
      assert(got(id) == model(id, text), s"dHash mismatch for doc $id")
    // near-dup sensitivity: identical text (different ids, SAME id%5 so
    // the container dims match) -> hamming 0; a one-char edit -> small
    // hamming; both must surface as pairs
    val base = "the quick brown fox jumps over the lazy dog and keeps running on"
    val corpus = docsDf(
      (10L, base), (15L, base),
      (20L, base.replace("quick", "quack")),
      (25L, "a completely different text about parquet row group statistics"))
    val pairs = Multimodal.imageNearDupPairs(
      Multimodal.imageDHash(Multimodal.packBmp(corpus)), maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.get((10L, 15L)).contains(0L), s"exact dup must be hamming 0: $pairs")
    assert(pairs.contains((10L, 20L)) || pairs.contains((15L, 20L)),
      s"one-char edit must stay within the near-dup threshold: $pairs")
    // pigeonhole recall guarantee: ANY pair within hamming 3 shares one of
    // the four 16-bit bands — feed constructed band rows straight in
    import SparkFixture.spark
    import spark.implicits._
    val h0 = Seq(0x1234, 0x5678, 0x9ABC, 0x0DEF)
    val h3 = Seq(0x1234 ^ 0x0007, 0x5678, 0x9ABC, 0x0DEF) // 3 bits, one band
    val fed = Seq((1L, 9, 9, h0(0), h0(1), h0(2), h0(3)),
      (2L, 9, 9, h3(0), h3(1), h3(2), h3(3)))
      .toDF("doc_id", "width", "height", "band0", "band1", "band2", "band3")
    val p2 = Multimodal.imageNearDupPairs(fed, maxHamming = 3).collect()
    assert(p2.length == 1 && p2.head.getLong(2) == 3L)
  }

  test("multimodal: audioFingerprint matches the independent envelope model; pairs behave") {
    // independent replay from the WAV synthesis rule (sample = (b-96)*256)
    def model(text: String): Seq[Int] = {
      val amp = text.getBytes("US-ASCII").map(b => math.abs((b & 0xff) - 96) * 256L)
      val n = amp.length
      val e = Seq.tabulate(65)(w =>
        (w * n / 65 until (w + 1) * n / 65).map(amp(_)).sum)
      var hash = 0L
      for (i <- 0 until 64) if (e(i + 1) > e(i)) hash |= 1L << i
      Seq.tabulate(4)(b => ((hash >>> (16 * b)) & 0xFFFFL).toInt)
    }
    val docs = Seq(
      (3L, "the quick brown fox jumps over the lazy dog and keeps running on"),
      (7L, "some considerably longer document payload with plenty of variation"),
      (12L, "short doc"))
    val got = Multimodal.audioFingerprint(Multimodal.packWav(docsDf(docs: _*)))
      .collect().map(r => r.getLong(0) ->
        Seq(r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))).toMap
    for ((id, text) <- docs)
      assert(got(id) == model(text), s"audio fingerprint mismatch for doc $id")
    // identical audio -> hamming 0 via the shared banded join
    val base = "the quick brown fox jumps over the lazy dog and keeps running on"
    val pairs = Multimodal.bandedHammingPairs(
      Multimodal.audioFingerprint(Multimodal.packWav(
        docsDf((10L, base), (15L, base),
          (25L, "a completely different text about parquet row group statistics")))),
      maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.get((10L, 15L)).contains(0L), s"exact dup must be hamming 0: $pairs")
  }

  test("multimodal: decodeBmp rejects malformed and unsupported payloads") {
    import org.apache.spark.SparkException
    val garbage = docsDf((1L, "x")).select(col("doc_id"),
      lit("notabmp".getBytes("US-ASCII")).as("payload"))
    val e1 = intercept[SparkException] { Multimodal.decodeBmp(garbage).collect() }
    assert(e1.getMessage.contains("not a canonical BMP"))
    // corrupt the bpp field of a real container -> layout require fires
    val bad = Multimodal.packBmp(docsDf((1L, "abc")))
      .select(col("doc_id"), col("payload")).collect().map { r =>
        val b = r.getAs[Array[Byte]](1).clone(); b(28) = 8; (r.getLong(0), b)
      }
    val bdf = spark.createDataFrame(bad.toSeq).toDF("doc_id", "payload")
    val e2 = intercept[SparkException] { Multimodal.decodeBmp(bdf).collect() }
    assert(e2.getMessage.contains("unsupported BMP layout"))
    // hostile header width (2^30): Int stride math would wrap negative and
    // slip past the truncation check into a raw AIOOBE — must instead be
    // the contractual doc-id rejection (dims cap), in decode AND resize
    val forged = Multimodal.packBmp(docsDf((1L, "abc")))
      .select(col("doc_id"), col("payload")).collect().map { r =>
        val b = r.getAs[Array[Byte]](1).clone()
        b(18) = 0; b(19) = 0; b(20) = 0; b(21) = 0x40 // width = 0x40000000
        (r.getLong(0), b)
      }
    val fdf = spark.createDataFrame(forged.toSeq).toDF("doc_id", "payload")
    val e3 = intercept[SparkException] { Multimodal.decodeBmp(fdf).collect() }
    assert(e3.getMessage.contains("unsupported BMP layout"), e3.getMessage)
    val e4 = intercept[SparkException] { Multimodal.resizeBmp(fdf, 2).collect() }
    assert(e4.getMessage.contains("unsupported BMP layout"), e4.getMessage)
  }

  test("codec property: WAV and BMP round-trip 100 seeded random docs against plain-Scala models") {
    val rnd = new scala.util.Random(20260812L)
    val docs = (0L until 100L).map { id =>
      val len = 1 + rnd.nextInt(200)
      id -> Array.fill(len)((32 + rnd.nextInt(95)).toChar).mkString // printable ASCII
    }
    val df = docsDf(docs: _*)
    val wav = Multimodal.decodeWav(Multimodal.packWav(df)).collect()
      .map(r => r.getLong(0) -> r).toMap
    val bmp = Multimodal.decodeBmp(Multimodal.packBmp(df)).collect()
      .map(r => r.getLong(0) -> r).toMap
    docs.foreach { case (id, text) =>
      val samples = text.map(c => (c.toInt - 96) * 256)
      val w = wav(id)
      assert(w.getAs[Int]("sample_rate") == 8000 * (1 + id % 3).toInt)
      assert(w.getAs[Long]("n_samples") == text.length.toLong)
      assert(w.getAs[Int]("peak") == samples.map(math.abs).max)
      val rms = math.sqrt(samples.map(s => s.toDouble * s).sum / samples.length)
      assert(math.abs(w.getAs[Double]("rms") - rms) < 1e-6, s"doc $id rms")
      val wd = 6 + (id % 5).toInt * 2
      val h = math.max(1, (text.length + 3 * wd - 1) / (3 * wd))
      val b = bmp(id)
      assert(b.getAs[Int]("width") == wd && b.getAs[Int]("height") == h)
      val bytes = text.getBytes("US-ASCII").map(_ & 0xff)
      def chan(c: Int): Double =
        bytes.indices.collect { case i if i % 3 == c => bytes(i).toLong }
          .sum.toDouble / (wd.toLong * h)
      assert(math.abs(b.getAs[Double]("mean_b") - chan(0)) < 1e-6, s"doc $id b")
      assert(math.abs(b.getAs[Double]("mean_g") - chan(1)) < 1e-6, s"doc $id g")
      assert(math.abs(b.getAs[Double]("mean_r") - chan(2)) < 1e-6, s"doc $id r")
      assert(b.getAs[Int]("tl_b") == bytes(0))
    }
  }

  test("multimodal: decodeWav rejects malformed and unsupported payloads") {
    import org.apache.spark.SparkException
    val garbage = docsDf((1L, "x")).select(col("doc_id"),
      lit("junk".getBytes("US-ASCII")).as("payload"))
    val e1 = intercept[SparkException] { Multimodal.decodeWav(garbage).collect() }
    assert(e1.getMessage.contains("not a canonical PCM WAV"))
    // corrupt the channel count of a real container -> layout require fires
    val stereo = Multimodal.packWav(docsDf((1L, "abc")))
      .select(col("doc_id"), col("payload")).collect().map { r =>
        val b = r.getAs[Array[Byte]](1).clone(); b(22) = 2; (r.getLong(0), b)
      }
    val sdf = spark.createDataFrame(stereo.toSeq).toDF("doc_id", "payload")
    val e2 = intercept[SparkException] { Multimodal.decodeWav(sdf).collect() }
    assert(e2.getMessage.contains("unsupported WAV layout"))
  }

  test("hash sampling: disjoint pct ranges partition the corpus deterministically") {
    import graft.operators.Corpus
    val df = docsDf((0L until 50L).map(i => (i, s"doc number $i words")): _*)
    val a = Corpus.sampleByHash(df, "doc_id", 30).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val b = Corpus.sampleByHash(df, "doc_id", 30).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(a == b) // deterministic, not rand()
    // complement = rows in [30, 100)
    val all = df.select("doc_id").collect().map(_.getLong(0)).toSet
    val rest = df.filter(Corpus.hashBucket(col("doc_id"), 100) >= 30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((a ++ rest) == all && (a & rest).isEmpty)
  }

  test("weighted sampling: monotone in weight, clamped, deterministic") {
    import graft.operators.Corpus
    val df = docsDf((0L until 60L).map(i => (i, s"doc number $i words")): _*)
      .withColumn("w", (col("doc_id") % 10).cast("double") / 10.0)
    def keep(weight: org.apache.spark.sql.Column): Set[Long] =
      Corpus.sampleByWeight(df, weight).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    val a = keep(col("w"))
    assert(a == keep(col("w"))) // md5 coin, not rand(): rerun-stable
    // monotone: raising every weight only ADDS rows, never swaps
    assert(a.subsetOf(keep(col("w") + 0.3)))
    // clamp contract: weight >= 1 keeps everything, <= 0 keeps nothing
    assert(keep(lit(5.0)) == df.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(keep(lit(-1.0)).isEmpty)
    // weight-0 rows (doc_id % 10 == 0) can never be sampled
    assert(a.forall(_ % 10 != 0))
    // a NULL weight is a defined 0, not three-valued mystery
    assert(keep(lit(null).cast("double")).isEmpty)
    intercept[IllegalArgumentException] {
      Corpus.sampleByWeight(df, col("w"), resolution = 1)
    }
  }

  test("bigram LM scoring: smoothed fixed-point terms, hits, OOV handling") {
    import graft.operators.Corpus
    // reference corpus: "a b" ×3 and "a c" ×1 → c1(a)=4, c1(b)=3, c1(c)=1
    // (plus c2 tables); vocab V=3
    val ref = docsDf((0L, "a b"), (1L, "a b"), (2L, "a b"), (3L, "a c"))
    val uni = Corpus.topUnigrams(ref, k = 10)
    assert(uni == Seq("a" -> 4L, "b" -> 3L, "c" -> 1L)) // count desc, token asc
    val big = Corpus.topBigrams(ref, k = 10)
    assert(big == Seq("a b" -> 3L, "a c" -> 1L))
    // score "a b z a": bigrams (a b), (b z), (z a)
    //  (a b): floor(2^30·(3+1)/(4+3)) ; (b z): floor(2^30·1/(3+3)) ;
    //  (z a): OOV prefix → floor(2^30·1/(0+3))
    val got = Corpus.lmScore(docsDf((9L, "a b z a")), uni, big)
      .select("lm_sum_fp", "lm_hits", "n_bigrams")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    val q = 1073741824.0
    val expected = math.floor(q * 4 / 7).toLong + math.floor(q / 6).toLong +
      math.floor(q / 3).toLong
    assert(got == ((expected, 1L, 3L)))
    // a single-token doc has zero bigrams and a zero score
    val lone = Corpus.lmScore(docsDf((7L, "a")), uni, big)
      .select("lm_sum_fp", "n_bigrams").collect().head
    assert(lone.getLong(0) == 0L && lone.getLong(1) == 0L)
    intercept[IllegalArgumentException](Corpus.lmScore(ref, Seq(), big))
    // the large-model (explode + broadcast-join) formulation is
    // row-for-row identical — per-position terms are the same integers
    val docs2 = docsDf((9L, "a b z a"), (10L, "a"), (11L, "c a b"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lm_sum_fp", "lm_hits", "n_bigrams")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows(Corpus.lmScoreJoined(docs2, uni, big, carryCols = Nil)) ==
      rows(Corpus.lmScore(docs2, uni, big)))
  }

  test("curriculum sharding: exact global ranks from bounded pieces") {
    import graft.operators.Corpus
    val df = docsDf((0L until 50L).map(i => (i, "t" * ((i % 7) + 1).toInt)): _*)
    val score = col("n_chars").cast("double") / 7.0
    val got = Corpus.curriculumShards(df, score, nShards = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // brute-force reference: sort by (quantized score, id), rank, cut
    val q = df.select(col("doc_id"), floor(least(greatest(score, lit(0.0)),
        lit(1.0)) * 1048576.0).cast("long").as("qs"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = q.sortBy(p => (p._2, p._1)).zipWithIndex
      .map { case ((id, _), r) => (id, r.toLong, r.toLong * 5 / 50) }.toSet
    assert(got.toSet == expect && got.length == 50)
    // ranks are a permutation of 0..n-1 and shards are balanced
    assert(got.map(_._2).sorted.toSeq == (0L until 50L))
    assert(got.groupBy(_._3).values.map(_.length).toSet == Set(10))
    // the skew audit fails loudly: one bucket over the cap
    val e = intercept[IllegalArgumentException](
      Corpus.curriculumShards(df, lit(0.5), nShards = 5, maxBucket = 10))
    assert(e.getMessage.contains("hot-spot"))
    // empty input yields an empty, correctly-shaped frame
    assert(Corpus.curriculumShards(df.limit(0), score, 3).count() == 0)
    // NULL scores must not vanish — they rank first at bucket 0
    val withNull = Corpus.curriculumShards(df,
      when(col("doc_id") === 7L, lit(null)).otherwise(score), nShards = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(withNull.size == 50, "a null score silently dropped its row")
    assert(withNull(7L)._1 == 0L, "null score must quantize to bucket 0")
  }

  test("curriculum sharding property: equals brute-force sort ranks on seeded random data") {
    import graft.operators.Corpus
    import org.apache.spark.sql.types.{StructType, StructField, LongType, DoubleType}
    val rnd = new scala.util.Random(0xC0FFEE)
    for ((n, shards) <- Seq((1, 1), (37, 4), (250, 7), (400, 16))) {
      // scores: clamped-range doubles with heavy ties, out-of-range
      // values, and ~5% nulls — every clamp/quantize path exercised
      val rows = (0L until n.toLong).map { i =>
        val s: java.lang.Double = rnd.nextInt(20) match {
          case 0 => null
          case 1 => -0.5 + rnd.nextDouble()
          case 2 => 1.0 + rnd.nextDouble()
          case k if k < 8 => 0.25 // tie block
          case _ => rnd.nextDouble()
        }
        Row(i, s)
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4),
        StructType(Seq(StructField("doc_id", LongType, false),
          StructField("score", DoubleType, true))))
      val got = Corpus.curriculumShards(df, col("score"), shards)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      // brute: same quantization, global sort by (qs, id), integer cut
      val brute = rows.map { r =>
        val s = Option(r.get(1)).map(_.asInstanceOf[Double]).getOrElse(0.0)
        val clamped = math.min(1.0, math.max(0.0, s))
        (r.getLong(0), math.floor(clamped * 1048576.0).toLong)
      }.sortBy(p => (p._2, p._1)).zipWithIndex
        .map { case ((id, _), r) => (id, r.toLong, r.toLong * shards / n) }.toSet
      assert(got == brute, s"mismatch at n=$n shards=$shards")
    }
  }

  test("token-budget packing: chunks are contiguous quantized prefix sums") {
    import graft.operators.Corpus
    // same source (even ids -> src0): tokens per doc = 4
    val df = docsDf((0L until 10L).map(i => (i * 2, "a b c d")): _*)
    val got = Corpus.packByTokenBudget(df, budgetTokens = 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // exclusive prefix sums 0,4,8,12,... -> chunks 0,0,0,1,1,2,2,2,3,3
    assert(got == Map(0L -> 0L, 2L -> 0L, 4L -> 0L, 6L -> 1L, 8L -> 1L,
      10L -> 2L, 12L -> 2L, 14L -> 2L, 16L -> 3L, 18L -> 3L))
  }

  test("familiarity: bigram edges, miss-as-zero scoring, deterministic top table") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b c", "s"), (2L, "a", "s"), (3L, "z q", "s"))
      .toDF("doc_id", "text", "source")
    // bigrams of doc 1: "a b","b a","a b","b c"; doc 2: none; doc 3: "z q"
    val table = graft.operators.Corpus.topBigrams(docs, k = 2)
    // counts: "a b"->2 wins; the 1-count ties break lexicographically: "b a"
    assert(table == Seq("a b" -> 2L, "b a" -> 1L))
    val scored = graft.operators.Corpus.familiarity(docs, table)
      .select("doc_id", "fam_sum", "fam_hits", "n_bigrams")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(scored(1L) == ((2L + 1L + 2L + 0L, 3L, 4L)), "misses contribute 0")
    assert(scored(2L) == ((0L, 0L, 0L)), "a 1-token doc has no bigrams but stays")
    assert(scored(3L) == ((0L, 0L, 1L)))
  }

  test("familiarity scores a STREAM unchanged (narrow fold, no state)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-famstream").toString
    val docs = Seq((1L, "a b a b c", "s"), (2L, "z q", "s"))
      .toDF("doc_id", "text", "source")
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    val table = graft.operators.Corpus.topBigrams(docs, k = 2)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = graft.operators.Corpus.familiarity(stream, table)
      .writeStream.format("memory").queryName("fam_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("fam_out")
        .select("doc_id", "fam_sum").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 5L, 2L -> 0L))
    } finally q.stop()
  }

  test("JSONL shard export: per-file record caps hold and content round-trips") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-jsonl").toString + "/shards"
    graft.operators.Corpus.writeJsonlShards(docs, path, maxRecordsPerFile = 100)
    val files = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".json"))
    assert(files.nonEmpty)
    // every shard respects the cap, and it actually split (fixture > 100 docs)
    val counts = files.map(f =>
      scala.io.Source.fromFile(f).getLines().size)
    assert(counts.forall(_ <= 100), s"oversized shard: ${counts.mkString(",")}")
    assert(files.length > 1, "the cap must split output into multiple shards")
    // loaders read it back row-for-row
    val back = spark.read.json(path)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").collect().map(_.getLong(0)).toSet ==
      docs.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("stratified sampling: per-stratum rates, deterministic, 0/100 exact") {
    import graft.operators.Corpus
    val df = docsDf((0L until 200L).map(i => (i, s"text $i")): _*) // src0/src1 alternating
    val got = Corpus.sampleStratified(df, "source",
      rates = Map("src0" -> 0), defaultPct = 100)
      .select("source").collect().map(_.getString(0))
    assert(got.nonEmpty && got.forall(_ == "src1"), "rate 0 excludes, 100 keeps all")
    // default-rate strata match plain hash sampling exactly (same subset)
    val strat = Corpus.sampleStratified(df, "source", rates = Map(), defaultPct = 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val plain = Corpus.sampleByHash(df, "doc_id", 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strat == plain)
  }

  test("vocab stats: tf/df counts with deterministic top-K ordering") {
    val df = docsDf((1L, "a b a"), (2L, "a c"))
    val got = graft.operators.Corpus.vocabStats(df, topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // tf: a=3 b=1 c=1; ties break on token asc; topK cuts after b
    assert(got.toSeq == Seq(("a", 3L, 2L), ("b", 1L, 1L)))
  }

  test("lang id picks the language with the most stopword hits") {
    val df = docsDf((1L, "the cat of the house and the dog"), (2L, "el gato de la casa y el perro"))
    val got = df.select(col("doc_id"), TextFunctions.langId(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "es")
  }

  test("repeated spans: cross-doc windows only, occurrence-ranked, short docs contribute nothing") {
    val df = docsDf(
      (1L, "the quick brown fox jumps over it"), // "the quick brown" ×1 here
      (2L, "the quick brown fox sits"),          // shares two 3-gram windows with doc 1
      (3L, "the quick brown fox jumps again and the quick brown fox jumps"),
      (4L, "unique words only here"),            // 3-grams exist but repeat nowhere
      (5L, "so brief"))                          // < n tokens → zero windows
    val got = graft.operators.Corpus.repeatedSpans(df, n = 3, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // hand count: "the quick brown" docs {1,2,3} occurs 1+1+2 = 4;
    // "quick brown fox" the same; "brown fox jumps" docs {1,3} occurs 3
    assert(got.toSeq == Seq(
      ("quick brown fox", 4L, 3L), // count ties break on span ASC
      ("the quick brown", 4L, 3L),
      ("brown fox jumps", 3L, 2L)))
    // within-ONE-doc repetition must not qualify (doc 3 repeats its spans,
    // but "fox jumps again" etc. appear in no other doc)
    assert(!got.exists(_._1.contains("again")))
  }

  test("journeys and funnel: (ts,id)-total-ordered paths, greedy stage matching") {
    val schema = StructType(Seq(StructField("user_id", LongType, false),
      StructField("ts", TimestampType, false),
      StructField("event_id", LongType, false),
      StructField("event_type", StringType, false)))
    def t(sec: Long) = new java.sql.Timestamp(1704412800000L + sec * 1000)
    val rows = Seq(
      Row(1L, t(10), 1L, "view"), Row(1L, t(20), 2L, "click"),
      Row(1L, t(30), 3L, "purchase"),                      // full conversion
      Row(2L, t(10), 4L, "view"), Row(2L, t(10), 5L, "error"),
      Row(2L, t(15), 6L, "view"),                          // stage 1 only
      Row(3L, t(5), 7L, "click"), Row(3L, t(9), 8L, "view"),
      Row(3L, t(12), 9L, "click"))                         // click AFTER view → 2
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val paths = graft.operators.Funnel.topJourneys(df, maxSteps = 8, topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // user 2's same-second tie breaks on event_id: view(4) before error(5)
    assert(paths == Map("view>click>purchase" -> 1L, "view>error>view" -> 1L,
      "click>view>click" -> 1L))
    val stages = graft.operators.Funnel
      .funnelStages(df, Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(stages == Map(3 -> 1L, 1 -> 1L, 2 -> 1L))
  }

  test("last-touch attribution: preceding non-conversion wins, lookback gates, __none partitions") {
    val schema = StructType(Seq(StructField("user_id", LongType, false),
      StructField("ts", TimestampType, false),
      StructField("event_id", LongType, false),
      StructField("event_type", StringType, false),
      StructField("value", DoubleType, true)))
    def t(sec: Long) = new java.sql.Timestamp(1704412800000L + sec * 1000)
    val rows = Seq(
      Row(1L, t(10), 1L, "view", 0.0), Row(1L, t(20), 2L, "click", 0.0),
      Row(1L, t(30), 3L, "purchase", 2.5),   // touch = click (id 2)
      Row(1L, t(40), 4L, "purchase", 1.0),   // still click — purchases never touch
      Row(2L, t(10), 5L, "view", 0.0),
      Row(2L, t(4010), 6L, "purchase", 1.0), // touch outside 3600 s → __none
      Row(3L, t(5), 7L, "purchase", 0.5))    // no prior event at all → __none
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val got = graft.operators.Funnel
      .lastTouchAttribution(df, "purchase", lookbackSec = 3600L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def fp(v: Double) = math.floor(v * 1048576).toLong
    assert(got == Map(
      "click" -> ((2L, fp(2.5) + fp(1.0))),
      "__none" -> ((2L, fp(1.0) + fp(0.5)))))
  }

  test("seasonal anomaly: integer cross-multiplied threshold, min support, unseen hour never flags") {
    val schema = StructType(Seq(StructField("event_type", StringType, false),
      StructField("ts", TimestampType, false),
      StructField("value", DoubleType, true)))
    def ts(day: Int, hour: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:$m%02d:00")
    val rows = Seq(
      // baseline, type a hour 0: values 10, 10 → n=2, mean 10
      Row("a", ts(1, 0, 1), 10.0), Row("a", ts(2, 0, 2), 10.0),
      // baseline, type a hour 1: single row → below minSupport=2
      Row("a", ts(1, 1, 1), 1.0),
      // scoring day 3: 25 > 2×10 flags; 15 ≤ 2×10 doesn't; hour-1 cell
      // is under-supported and hour-2 unseen → neither flags
      Row("a", ts(3, 0, 1), 25.0), Row("a", ts(3, 0, 2), 15.0),
      Row("a", ts(3, 1, 1), 99.0), Row("a", ts(3, 2, 1), 99.0),
      Row("a", ts(3, 0, 3), null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val got = graft.operators.Anomaly
      .seasonalAnomalies(df, "2024-01-03", factor = 2L, minSupport = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("a", "2024-01-03", 4L, 1L)))
  }

  test("profile: one-pass long-format column stats with typed bounds") {
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("v", DoubleType, true), StructField("s", StringType, true),
      StructField("t", TimestampType, true)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      Row(1L, 1.5, "b", ts("2024-01-01 00:00:01")),
      Row(2L, null, "a", ts("2024-01-02 12:30:00")),
      Row(3L, 1.5, null, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val got = graft.operators.Profile
      .profile(df, numeric = Seq("id", "v"), strings = Seq("s"),
        timestamps = Seq("t"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.getString(4)), Option(r.getString(5)),
          if (r.isNullAt(6)) None else Some(r.getLong(6)),
          if (r.isNullAt(7)) None else Some(r.getLong(7))))).toMap
    val m = 1048576L
    assert(got("id") == ((3L, 0L, 3L, None, None, Some(1L * m), Some(3L * m))))
    assert(got("v") == ((2L, 1L, 1L, None, None,
      Some(math.floor(1.5 * m).toLong), Some(math.floor(1.5 * m).toLong))))
    assert(got("s") == ((2L, 1L, 2L, Some("a"), Some("b"), None, None)))
    assert(got("t") == ((2L, 1L, 2L, Some("2024-01-01 00:00:01"),
      Some("2024-01-02 12:30:00"), None, None)))
  }

  test("tfidf pairs: df-capped inverted index, integer weights, hapax terms never pair") {
    val df = docsDf(
      (1L, "apple banana apple"),
      (2L, "apple banana cherry"),
      (3L, "banana cherry cherry"),
      (4L, "unique words only"))
    val got = graft.operators.Corpus
      .similarDocPairs(df, topK = 10, minDf = 2L, maxDf = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // w(apple)=2^20 div 2=524288, w(banana)=div 3=349525, w(cherry)=524288
    // (1,2): apple 2·1·524288 + banana 1·1·349525 = 1398101, 2 terms
    // (2,3): banana 349525 + cherry 1·2·524288 = 1398101; (1,3): banana only
    assert(got.toSeq == Seq(
      (1L, 2L, 1398101L, 2L), (2L, 3L, 1398101L, 2L), (1L, 3L, 349525L, 1L)))
    // doc 4's hapax terms generate no candidates at all
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("markov: lag-window transitions and exact fixed-point power iterations") {
    val schema = StructType(Seq(StructField("user_id", LongType, false),
      StructField("ts", TimestampType, false),
      StructField("event_id", LongType, false),
      StructField("event_type", StringType, false)))
    def t(sec: Long) = new java.sql.Timestamp(1704412800000L + sec * 1000)
    val rows = Seq(
      Row(1L, t(1), 1L, "A"), Row(1L, t(2), 2L, "B"), Row(1L, t(3), 3L, "A"),
      Row(2L, t(1), 4L, "B"), Row(2L, t(2), 5L, "B"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val tr = graft.operators.Funnel.typeTransitions(df)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tr == Map(("A", "B") -> 1L, ("B", "A") -> 1L, ("B", "B") -> 1L))
    val p2 = graft.operators.Funnel.stationaryDistribution(df, iters = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // p0 = 2^36 each; p1 = {A: 2^35, B: 2^36+2^35};
    // p2 = {A: (2^36+2^35) div 2 = 3·2^34, B: 2^35 + (2^36+2^35) div 2}
    assert(p2 == Map(
      "A" -> ((3L << 34, 1L)),
      "B" -> (((1L << 35) + (3L << 34), 2L))))
  }

  test("frame near-dup: shared-digest pairs, within-doc dups collapse, hot frames capped") {
    // 64-byte frames, every 4th sampled → frames 0 and 4 of a 320-char
    // doc; segments must DIFFER or the per-doc distinct collapses them
    def seg(c: Char) = c.toString * 64
    val df = docsDf(
      (1L, "abcde".map(seg).mkString), // sampled: a-frame, e-frame
      (2L, "abcde".map(seg).mkString), // identical → shares both
      (3L, "axyzq".map(seg).mkString), // shares a-frame only → < minShared
      (4L, "mmmmm".map(seg).mkString))
    val got = graft.operators.Multimodal.frameNearDupPairs(
      graft.operators.Multimodal.sampleFrames(
        graft.operators.Multimodal.packBinary(df)), minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 2L)))
    // hot-frame cap: with the cap below the block size, nothing pairs
    val capped = graft.operators.Multimodal.frameNearDupPairs(
      graft.operators.Multimodal.sampleFrames(
        graft.operators.Multimodal.packBinary(df)),
      minShared = 1, maxDocsPerFrame = 2)
    // the a-frame is shared by 3 docs → capped out; the e-frame still
    // pairs docs 1,2
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 2L)))
  }

  test("decayed values: half-life fold in event order, last-N truncation") {
    val schema = StructType(Seq(StructField("user_id", LongType, false),
      StructField("ts", TimestampType, false),
      StructField("event_id", LongType, false),
      StructField("value", DoubleType, false)))
    def t(sec: Long) = new java.sql.Timestamp(1704412800000L + sec * 1000)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, t(1), 1L, 1.0), Row(1L, t(2), 2L, 2.0), Row(1L, t(3), 3L, 4.0)), 2),
      schema)
    def fp(maxEvents: Int) = graft.operators.Funnel
      .decayedValues(df, maxEvents = maxEvents)
      .collect().head.getLong(2)
    // ((0·.5+1)·.5+2)·.5+4 = 5.25 → floor(5.25·2^20); last-2 cap → 5.0
    assert(fp(64) == math.floor(5.25 * 1048576).toLong)
    assert(fp(2) == math.floor(5.0 * 1048576).toLong)
  }

  test("linear probe: full-batch GD learns a separable threshold, deterministically") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 100).map(i => Row(i / 100.0)), 4),
      StructType(Seq(StructField("x", DoubleType, false))))
    def train() = graft.operators.Corpus.trainLinearProbe(df,
      Seq(lit(1.0), col("x")), (col("x") >= 0.5).cast(DoubleType),
      iters = 30, lr = 1.5)
    val w = train()
    assert(w == train(), "fixed-point gradient sums must make reruns exact")
    assert(w(1) > 0, s"slope must be positive toward the label: $w")
    // score every point with the learned line; ≥95% must classify right
    val acc = (0 until 100).count { i =>
      val x = i / 100.0; (w(0) + w(1) * x >= 0.5) == (x >= 0.5)
    }
    assert(acc >= 95, s"probe failed to separate: acc=$acc, w=$w")
  }

  test("span excision: ordered literal fold, all occurrences, fingerprint pins the rewrite") {
    val df = docsDf((1L, "x a b a b y"), (2L, "a b"), (3L, "clean"))
    def run(spans: Seq[String]) = graft.operators.Corpus.exciseSpans(df, spans)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val got = run(Seq("a b", "b y"))
    // doc 1: "x a b a b y" -"a b"×2-> "x   y" (spaces remain) -"b y"-> no hit
    assert(got(1L)._1 == 11L && got(1L)._2 == 5L)
    assert(got(2L)._2 == 0L)                       // exact-span doc → empty
    assert(got(3L) == (5L, 5L, got(3L)._3))        // untouched
    // order matters when spans overlap — and is honored exactly
    val ab = run(Seq("a b", "b c")); val ba = run(Seq("b c", "a b"))
    assert(ab == ba) // no overlap in THIS fixture: both orders agree
    val o1 = graft.operators.Corpus.exciseSpans(docsDf((9L, "a b c")), Seq("a b", "b c"))
      .collect().head.getLong(2)
    val o2 = graft.operators.Corpus.exciseSpans(docsDf((9L, "a b c")), Seq("b c", "a b"))
      .collect().head.getLong(2)
    assert(o1 == 2L && o2 == 2L) // "a b c" → first span hits, second then misses
  }

  test("semantic dedup: learned-cell blocking, deterministic keep-lowest-id rule") {
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0.99f, 0.1f, 0f, 0f)),  // ~cos 0.995
      (2L, Seq(0f, 1f, 0f, 0f)), (3L, Seq(0f, 0.99f, 0.1f, 0f)),  // ~cos 0.995
      (4L, Seq(0.7f, 0.7f, 0f, 0f)))                              // ~0.70 to both — kept
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v) }, 2),
      StructType(Seq(StructField("vec_id", LongType, false),
        StructField("embedding", ArrayType(FloatType), false))))
    val cents = Seq(0 -> Seq(1.0, 0.0, 0.0, 0.0), 1 -> Seq(0.0, 1.0, 0.0, 0.0))
    val got = Dedup.semanticDedup(df, cents, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    // 1 and 3 each have a lower-id near-dup in their cell; 4 sits between
    // the clusters below threshold; dot-tie on cell goes to the lowest cid
    assert(got == Map(0L -> (0, false), 1L -> (0, true),
      2L -> (1, false), 3L -> (1, true), 4L -> (0, false)))
  }

  test("random projection: ±1 folds match a hand computation; matrix is deterministic") {
    val signs = VectorFunctions.projSigns(dim = 4, p = 3)
    assert(signs == VectorFunctions.projSigns(dim = 4, p = 3))
    assert(signs.flatten.forall(s => s == 1.0 || s == -1.0))
    assert(signs.size == 3 && signs.forall(_.size == 4))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, Seq(1.0f, 2.0f, 3.0f, 4.0f))), 1),
      StructType(Seq(StructField("vec_id", LongType, false),
        StructField("embedding", ArrayType(FloatType), false))))
    val proj = df.select(VectorFunctions.randomProject(col("embedding"), signs).as("p"))
      .collect().head.getSeq[Double](0)
    val expected = signs.map(sj =>
      sj.zip(Seq(1.0, 2.0, 3.0, 4.0)).map { case (s, x) => s * x }.sum)
    assert(proj == expected)
  }

  test("markov guards: high-cardinality step column fails loudly on a bounded collect") {
    // 100 distinct event types in one user's chain → ~99 distinct
    // (prev, next) transitions; with maxStates=4 the limit(17) inside the
    // plan means the driver never holds more than 17 rows before failing
    val wide = spark.range(100).selectExpr("1L AS user_id",
      "timestamp_seconds(1704067200 + id) AS ts", "id AS event_id",
      "concat('t', id) AS event_type")
    val e1 = intercept[IllegalArgumentException](
      graft.operators.Funnel.stationaryDistribution(wide, iters = 2, maxStates = 4))
    assert(e1.getMessage.contains("distinct (prev, next) transitions"))
    // sparse corner: 6 states but only 5 transitions (< 4² cap) must still
    // trip the distinct-state check on the bounded block
    val chain = spark.range(6).selectExpr("1L AS user_id",
      "timestamp_seconds(1704067200 + id) AS ts", "id AS event_id",
      "concat('s', id) AS event_type")
    val e2 = intercept[IllegalArgumentException](
      graft.operators.Funnel.stationaryDistribution(chain, iters = 2, maxStates = 4))
    assert(e2.getMessage.contains("exceeds maxStates"))
  }

  test("markov guard: transition count at the 2^20 fixed-point headroom fails loudly") {
    // one user, one type, 2^20+2 events → a single (A, A) transition with
    // count 2^20+1; p·c would overflow the 2^36-seeded Long algebra, so
    // the guard must fire instead of silently wrapping
    val n = (1L << 20) + 2L
    val big = spark.range(n).selectExpr("1L AS user_id",
      "timestamp_seconds(1704067200 + id) AS ts", "id AS event_id",
      "'A' AS event_type")
    val e = intercept[IllegalArgumentException](
      graft.operators.Funnel.stationaryDistribution(big, iters = 1))
    assert(e.getMessage.contains("2^20"))
  }

  test("distributed markov guards: 2^27 count fails BEFORE iteration 1; hub concentration fails mid-run") {
    import spark.implicits._
    // (1) the seed product 2^36·c wraps on the FIRST iteration when
    // c ≥ 2^27 — the guard must fire pre-loop, not after the wrap
    val atBoundary = Seq(("A", "B", 1L << 27)).toDF(
      "prev_type", "next_type", "n_trans")
    val e = intercept[IllegalArgumentException](
      graft.operators.Funnel.stationaryIterate(atBoundary, iters = 1))
    assert(e.getMessage.contains("2^27") && e.getMessage.contains("first iteration"))
    // just below the boundary the same shape runs
    val below = graft.operators.Funnel.stationaryIterate(
      Seq(("A", "B", (1L << 27) - 1)).toDF("prev_type", "next_type", "n_trans"),
      iters = 1).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(below("B") == (1L << 36) && below("A") == 0L,
      "a single-edge chain moves the whole seed in one hop")
    // (2) K·2^36 above the headroom → per-iteration checks active; a hub
    // absorbing every state's mass reaches K·2^36 after iteration 1, and
    // iteration 2's products would wrap — the run must fail loudly, with
    // the mass actually measured (2048 states × 2^36 = 2^47 > 2^63/2^26)
    val c = 1L << 26
    val hub = (0 until 2048).map(i => (s"s$i", "hub", c)).toDF(
      "prev_type", "next_type", "n_trans")
    val e2 = intercept[IllegalArgumentException](
      graft.operators.Funnel.stationaryIterate(hub, iters = 2))
    assert(e2.getMessage.contains("after iteration 1"))
    // the identical run stopped before the dangerous step is fine
    val one = graft.operators.Funnel.stationaryIterate(hub, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(one("hub") == 2048L * (1L << 36),
      "hub must hold exactly the concentrated seed mass")
  }

  test("seasonal anomaly: baseline broadcast guard names the group column, normal path unchanged") {
    val schema = StructType(Seq(StructField("event_type", StringType, false),
      StructField("ts", TimestampType, false),
      StructField("value", DoubleType, true)))
    def ts(day: Int, hour: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")
    val rows = Seq(
      Row("a", ts(1, 0), 1.0), Row("a", ts(1, 1), 1.0), Row("b", ts(1, 2), 1.0),
      Row("a", ts(3, 0), 9.0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val e = intercept[IllegalArgumentException](
      graft.operators.Anomaly.seasonalAnomalies(df, "2024-01-03",
        maxBaselineRows = 2))
    assert(e.getMessage.contains("event_type") &&
      e.getMessage.contains("baseline cells"))
    // at the default cap the same input scores normally
    val ok = graft.operators.Anomaly.seasonalAnomalies(df, "2024-01-03",
      minSupport = 1L).collect()
    assert(ok.nonEmpty)
  }

  test("sketch profile: exact fields identical to exact profile; HLL lands exact at small cardinality") {
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("v", DoubleType, true), StructField("s", StringType, true)))
    val rows = (1L to 200L).map(i =>
      Row(i, if (i % 7 == 0) null else (i % 13).toDouble, s"s${i % 5}"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val exact = graft.operators.Profile
      .profile(df, Seq("id", "v"), Seq("s"), Nil)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val sk = graft.operators.Profile
      .profileSketch(df, Seq("id", "v"), Seq("s"), Nil)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(sk.keySet == exact.keySet)
    for (c <- exact.keys) {
      // same row layout: only the distinct field (index 3) may differ
      assert(sk(c).patch(3, Nil, 1) == exact(c).patch(3, Nil, 1),
        s"non-distinct fields diverged for $c")
      // the c13b audit band: |est − exact| ≤ max(4, 5·rsd·exact)
      val (nd, est) = (exact(c)(3).asInstanceOf[Long], sk(c)(3).asInstanceOf[Long])
      assert(math.abs(est - nd) <= math.max(4.0, 5.0 * 0.05 * nd),
        s"distinct estimate $est outside band of exact $nd for $c")
      // low cardinalities sit in HLL++'s exact regime
      if (nd <= 50) assert(est == nd, s"small-n estimate must be exact for $c")
    }
  }

  test("distributed markov: bit-equal to the driver walk; wide state spaces run where the driver refuses") {
    val schema = StructType(Seq(StructField("user_id", LongType, false),
      StructField("ts", TimestampType, false),
      StructField("event_id", LongType, false),
      StructField("event_type", StringType, false)))
    def t(sec: Long) = new java.sql.Timestamp(1704412800000L + sec * 1000)
    val rows = Seq(
      Row(1L, t(1), 1L, "A"), Row(1L, t(2), 2L, "B"), Row(1L, t(3), 3L, "A"),
      Row(2L, t(1), 4L, "B"), Row(2L, t(2), 5L, "B"), Row(2L, t(3), 6L, "C"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    for (iters <- Seq(1, 3, 7)) {
      val drv = graft.operators.Funnel.stationaryDistribution(df, iters = iters)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val dist = graft.operators.Funnel
        .stationaryDistributionDistributed(df, iters = iters)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(dist == drv, s"distributed diverged from driver at iters=$iters")
    }
    // a 100-state chain: the driver path refuses at maxStates=4, the
    // distributed path runs and conserves what the algebra says it should
    val wide = spark.range(100).selectExpr("1L AS user_id",
      "timestamp_seconds(1704067200 + id) AS ts", "id AS event_id",
      "concat('t', id) AS event_type")
    intercept[IllegalArgumentException](
      graft.operators.Funnel.stationaryDistribution(wide, iters = 2, maxStates = 4))
    val got = graft.operators.Funnel
      .stationaryDistributionDistributed(wide, iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 100)
    // a pure chain moves each state's whole mass one hop per iteration:
    // after 2 iters only t2..t99 hold mass (2^36 each except the leaked
    // tail), every out-degree is 1 except the terminal t99
    val byState = got.map(g => g._1 -> g._2).toMap
    assert(byState("t0") == 0L && byState("t1") == 0L)
    assert(byState("t2") == (1L << 36) && byState("t50") == (1L << 36))
    assert(got.count(_._3 == 0L) == 1, "exactly the terminal state has no out-edges")
  }

  test("distributed markov == driver walk over seeded random event sets (incl. ts ties)") {
    val schema = StructType(Seq(StructField("user_id", LongType, false),
      StructField("ts", TimestampType, false),
      StructField("event_id", LongType, false),
      StructField("event_type", StringType, false)))
    val rnd = new scala.util.Random(11)
    for (round <- 1 to 5) {
      val nUsers = 1 + rnd.nextInt(6)
      val nTypes = 2 + rnd.nextInt(6)
      val rows = (1 to (40 + rnd.nextInt(120))).map { i =>
        // coarse second buckets force (ts, id) tie-breaks through both paths
        Row(1L + rnd.nextInt(nUsers).toLong,
          new java.sql.Timestamp(1704412800000L + rnd.nextInt(20) * 1000L),
          i.toLong, s"t${rnd.nextInt(nTypes)}")
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1 + rnd.nextInt(4)), schema)
      val iters = 1 + rnd.nextInt(12)
      val drv = graft.operators.Funnel.stationaryDistribution(df, iters = iters)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val dist = graft.operators.Funnel
        .stationaryDistributionDistributed(df, iters = iters)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(dist == drv,
        s"round $round (iters=$iters, users=$nUsers, types=$nTypes): diverged")
    }
  }
}
