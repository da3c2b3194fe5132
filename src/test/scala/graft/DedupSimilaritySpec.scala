package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, SimilarityOps, TextOps}

class DedupSimilaritySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "s1"),
    (2L, "dog lazy the over jumps fox brown quick the", "s1"), // shuffle of 1
    (3L, "completely different content about spark engines", "s1"),
    (4L, "the quick brown fox jumps over the lazy dog", "s2")  // exact copy of 1
  ).toDF("doc_id", "text", "source")

  test("minhash LSH finds token-set duplicates, not unrelated docs") {
    val pairs = DedupOps.minhashNearDupPairs(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // word shuffle = same token set
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("md5-family minhash (the q36 pipeline) finds the same verified pairs") {
    // same fixture, same contract as the xxhash64 path: token-set dups
    // pair up, unrelated docs never do — the family change moves WHERE
    // candidates come from, not what survives exact verification
    val pairs = DedupOps.minhashNearDupPairsMd5(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("md5-family minhash rejects k not divisible by bands") {
    assert(intercept[IllegalArgumentException] {
      DedupOps.minhashNearDupPairsMd5(docs, k = 10, bands = 3)
    }.getMessage.contains("multiple of bands"))
  }

  test("md5-family chain cap: mega-clique emits 2m-3 pairs, keeps connectivity") {
    val m = 40
    val clique = (1 to m).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta", "s"))
      .toDF("doc_id", "text", "source")
    val pairs = DedupOps.minhashNearDupPairsMd5(clique, maxBucketNeighbors = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.length === 2 * m - 3)
    assert(pairs.map(_._2).toSet === (2 to m).map(_.toLong).toSet)
  }

  test("sparse-regime corpus (Zipf vocab): LSH finds exactly the planted pairs") {
    // The graded documents corpus is unrealistically DENSE (~40-word
    // vocab — BASELINE.md round-1 note), so LSH selectivity never runs
    // in its designed regime there. This fixture is the sparse corpus:
    // a 5000-token Zipf-ish vocabulary, 400 independent documents, and
    // 20 planted near-dups at token-set Jaccard ≈ 0.9. The verified
    // pair set must equal the BRUTE-FORCE thresholded set exactly (at
    // j ≈ 0.9 the per-pair banding miss probability is ~4e-8), and the
    // pair mass must collapse to the planted edges — the ~n²/4 pair
    // explosion of the dense corpus cannot appear here.
    val rnd = new scala.util.Random(99)
    val vocabN = 5000
    def zipfTok(): String = {
      val r = math.pow(rnd.nextDouble(), 3.0) // mass toward low ranks
      s"w${(r * vocabN).toInt.min(vocabN - 1)}"
    }
    val base = (0 until 400).map { i =>
      (i.toLong, Seq.fill(60)(zipfTok()).mkString(" "))
    }
    val planted = (0 until 20).map { j =>
      val toks = base(j)._2.split(" ").toVector
      val mutated = (0 until 3).foldLeft(toks)((t, _) =>
        t.updated(rnd.nextInt(t.size), zipfTok()))
      (1000L + j, mutated.mkString(" "))
    }
    val all = base ++ planted
    val docs = all.map { case (i, t) => (i, t, "s") }
      .toDF("doc_id", "text", "source")
    val got = DedupOps.minhashNearDupPairsMd5(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // driver-side brute force over the 420-doc token sets
    val sets = all.map { case (i, t) =>
      i -> t.toLowerCase.trim.split("[ \\t\\n\\x0B\\f\\r]+").toSet
    }
    def r4(j: Double): BigDecimal = // Spark round() = HALF_UP
      BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if r4(j) >= BigDecimal("0.8")
    } yield (a, b)).toSet
    assert(got === brute, "LSH must find exactly the brute-force pair set")
    assert(got.size >= 15 && got.size <= 25,
      s"pair mass must stay at the planted scale, got ${got.size}")
    assert(got.forall { case (a, b) => b >= 1000L || a >= 1000L },
      "only planted twins may pair in the sparse regime")
    // the guaranteed-recall prefix-filter basis agrees on the same corpus
    // 3 token edits in 60 tokens damage ~9 of ~58 shingles (j ≈ 0.73),
    // so the shingle-level twins sit above 0.6, not 0.8
    val pp = DedupOps.ppjoinPairs(docs, tNum = 3, tDen = 5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val bruteSh = {
      val grams = all.map { case (i, t) =>
        val tk = t.toLowerCase.trim.split("[ \\t\\n\\x0B\\f\\r]+")
        i -> tk.sliding(3).map(_.mkString(" ")).toSet
      }
      (for {
        (a, sa) <- grams; (b, sb) <- grams if a < b
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if r4(j) >= BigDecimal("0.6")
      } yield (a, b)).toSet
    }
    assert(pp === bruteSh,
      "prefix-filter recall is a theorem — sparse corpora included")
  }

  test("md5-bit simhash: identical texts hash equal; banding pairs them") {
    val sh = DedupOps.simhashMd5(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L)) // same token SET: identical bit votes
    assert(sh(1L) === sh(4L))
    assert(sh(1L) !== sh(3L))
    val pairs = DedupOps.q37SimhashPairs(spark, TestSpark.sf)
    assert(pairs.columns.toSeq === Seq("doc_a", "doc_b", "hamming"))
  }

  test("minhash jaccard values are exact-verified") {
    val withJ = DedupOps.minhashNearDupPairs(docs).collect()
    assert(withJ.forall(_.getDouble(2) >= 0.8))
    assert(withJ.forall(_.getDouble(2) <= 1.0))
  }

  test("near-dedup apply: survivors have no verified pair among themselves") {
    val docsTbl = Tables.load(spark, TestSpark.sf, "documents")
    val survivors = DedupOps.dropNearDuplicates(docsTbl).select("doc_id")
    val pairs = DedupOps.minhashNearDupPairs(docsTbl)
    // every verified pair must have lost its higher-id member
    val bothSurvive = pairs
      .join(survivors.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(survivors.withColumnRenamed("doc_id", "doc_b"), "doc_b")
    assert(bothSurvive.count() === 0)
    assert(survivors.count() > 0)
    assert(survivors.count() < docsTbl.count()) // sf0.001 has near-dups
  }

  test("per-bucket pair cap bounds mega-clique emission, keeps dedup connectivity") {
    // 40 identical texts: one token set, one signature, one bucket per band —
    // the pathological clique. Uncapped this emits m(m-1)/2 = 780 pairs; the
    // neighbor-chain cap at distance <= 2 must emit exactly (m-1)+(m-2).
    val m = 40
    val clique = (1 to m).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta", "s"))
      .toDF("doc_id", "text", "source")
    val pairs = DedupOps.minhashNearDupPairs(clique, maxBucketNeighbors = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.length === 2 * m - 3)
    // chain connectivity: every non-minimal member appears as a doc_b, so
    // min-id survivor dedup still collapses the clique to one document
    val losers = pairs.map(_._2).toSet
    assert(losers === (2 to m).map(_.toLong).toSet)
    // cap >= clique size degenerates to the full m(m-1)/2 pair set
    val small = (1 to 10).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta", "s"))
      .toDF("doc_id", "text", "source")
    val full = DedupOps.minhashNearDupPairs(small, maxBucketNeighbors = 64)
    assert(full.count() === 45)
  }

  test("pair cache memoizes per (session, dir) and evicts on demand") {
    DedupOps.evict(spark)
    val first = DedupOps.nearDupPairsFor(spark, TestSpark.sf)
    assert(DedupOps.nearDupPairsFor(spark, TestSpark.sf) eq first) // memoized
    assert(first.storageLevel.useMemory) // materialized, not a lazy plan
    DedupOps.evict(spark)
    // checked before re-materializing: `second` would share the same logical
    // plan, and the cache lookup is plan-keyed
    assert(first.storageLevel == org.apache.spark.storage.StorageLevel.NONE) // unpersisted
    val second = DedupOps.nearDupPairsFor(spark, TestSpark.sf)
    assert(!(second eq first)) // cache entry really was dropped
    DedupOps.evict(spark)
  }

  test("native simhash is bit-identical to the composed explode+agg form") {
    val docsTbl = Tables.load(spark, TestSpark.sf, "documents")
    val native = DedupOps.simhash(docsTbl)
      .as[(Long, Long)].collect().toMap
    val composed = DedupOps.simhashComposed(docsTbl)
      .as[(Long, Long)].collect().toMap
    assert(native.nonEmpty)
    assert(native === composed)
  }

  test("recall guard: near-threshold similarity mass fires the loud report") {
    import graft.ops.RecallGuard
    // two docs engineered to land jaccard ~0.52 on 3-gram shingles: 13
    // shared tokens + 5 unique each => (13-2)/(13+2*5-2) = 11/21
    val shared = (1 to 13).map(i => s"w$i").mkString(" ")
    val near = Seq(
      (1L, s"$shared a1 a2 a3 a4 a5", "s1"),
      (2L, s"$shared b1 b2 b3 b4 b5", "s1"),
      (3L, "entirely unrelated text about query engines", "s1")
    ).toDF("doc_id", "text", "source")
    val before = RecallGuard.firings.get()
    val pairs = DedupOps.ngramNearDupPairs(near)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists { case (a, b, j) =>
      a == 1L && b == 2L && j >= 0.5 && j < 0.6 })
    // the listener runs async on the execution-listener bus; poll briefly
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (RecallGuard.firings.get() == before && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(RecallGuard.firings.get() > before,
      "danger-band pairs must trip the recall guard")
  }

  test("recall guard check: fires only when danger pairs exist") {
    import graft.ops.RecallGuard
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("danger_pairs", LongType), StructField("total_pairs", LongType),
      StructField("threshold", DoubleType), StructField("r", IntegerType),
      StructField("bands", IntegerType), StructField("strict", BooleanType)))
    def row(danger: java.lang.Long) = new GenericRowWithSchema(
      Array[Any](danger, 40L, 0.5, 2, 32, true), schema)
    assert(RecallGuard.check("graft_recall_guard_ngram_1", row(0L)).isEmpty)
    // empty pair set: sum() observes NULL — must stay silent, not throw
    assert(RecallGuard.check("graft_recall_guard_ngram_2", row(null)).isEmpty)
    val msg = RecallGuard.check("graft_recall_guard_ngram_3", row(3L))
    assert(msg.exists(_.contains("3 of 40")))
    assert(msg.exists(_.contains("r=2, bands=32")))
    // analytic miss at the 0.5 threshold with r=2, bands=32 is ~1.0e-4
    assert(math.abs(RecallGuard.missProbability(0.5, 2, 32) - 1.006e-4) < 2e-5)
  }

  test("native simhash matches the composed form on arrays WITH null elements") {
    graft.functions.GraftFunctions.register(spark)
    // a null element votes with h = 42 (the xxhash64 seed) in the composed
    // form; the native expression must agree for the contract to be total
    val frame = Seq((1L, Seq("alpha", null, "beta")), (2L, Seq[String](null)))
      .toDF("doc_id", "toks")
    val native = frame.select(col("doc_id"),
        call_function("graft_simhash64", col("toks")).as("sh"))
      .as[(Long, Long)].collect().toMap
    val composed = DedupOps.simhashComposedOfTokens(frame)
      .as[(Long, Long)].collect().toMap
    assert(native.keySet === Set(1L, 2L))
    assert(native === composed)
  }

  test("simhash: identical text => identical hash; pairs found by banding") {
    val sh = DedupOps.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(4L))
    val pairs = DedupOps.q37SimhashPairs _
    // run against the real documents table for the banding path
    val out = pairs(spark, TestSpark.sf)
    assert(out.count() > 0)
    assert(out.filter(col("hamming") > 8).count() === 0)
  }

  test("ngram near-dup: LSH-blocked pairs equal brute force above threshold") {
    graft.functions.GraftFunctions.register(spark)
    val docsTbl = Tables.load(spark, TestSpark.sf, "documents")
    val lsh = DedupOps.ngramNearDupPairs(docsTbl)
      .as[(Long, Long, Double)].collect().toSet
    // brute force: every pair, exact jaccard, same threshold — blocking
    // must lose nothing above it
    val sh = docsTbl.select(col("doc_id"), DedupOps.shingles(col("text")).as("sh"))
    val brute = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      .crossJoin(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(call_function("graft_jaccard_sorted", col("sh_a"), col("sh_b")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh === brute)
    assert(lsh.nonEmpty) // sf0.001 plants near-dups; empty would be vacuous
  }

  test("ngram near-dup banding catches a pair sitting near the threshold") {
    // two docs sharing roughly half their shingles: j ~ 0.5 is the worst
    // case for banding recall (catch prob ~99% per the band math, and
    // deterministic for the fixed hash family — this pins it)
    val base = (1 to 45).map(i => s"tok$i").mkString(" ")
    val half = ((1 to 30).map(i => s"tok$i") ++ (1 to 15).map(i => s"alt$i")).mkString(" ")
    val pairDocs = Seq((1L, base, "s"), (2L, half, "s")).toDF("doc_id", "text", "source")
    val found = DedupOps.ngramNearDupPairs(pairDocs, threshold = 0.3)
      .as[(Long, Long, Double)].collect()
    assert(found.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    assert(found.head._3 > 0.4 && found.head._3 < 0.6)
  }

  test("native shingles are identical to the composed transform/slice form") {
    graft.functions.GraftFunctions.register(spark)
    def composed(c: org.apache.spark.sql.Column, n: Int) = {
      val toks = TextOps.tokens(c)
      sort_array(array_distinct(transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
    }
    val cases = Tables.load(spark, TestSpark.sf, "documents").select(col("text"))
      .unionAll(Seq("", "one", "one two", "a  b\tc  d", "x x x x x").toDF("text"))
    Seq(2, 3, 5).foreach { n =>
      val mismatches = cases.select(
        DedupOps.shingles(col("text"), n).as("native"),
        composed(col("text"), n).as("ref"))
        .filter(col("native") =!= col("ref"))
        .count()
      assert(mismatches === 0, s"n=$n")
    }
  }

  test("ngram shingles distinguish word order (shuffle scores below exact copy)") {
    graft.functions.GraftFunctions.register(spark)
    val sh = docs.select(col("doc_id"), DedupOps.shingles(col("text")).as("sh"))
    val byId = sh.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val jac = (a: Set[String], b: Set[String]) =>
      a.intersect(b).size.toDouble / a.union(b).size
    assert(jac(byId(1L), byId(4L)) === 1.0)          // exact copy
    assert(jac(byId(1L), byId(2L)) < 0.5)            // shuffle breaks 3-grams
  }

  test("cosine helpers: identity 1, orthogonal 0, computed in double") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(2.0f, 0.0f)))
      .toDF("id", "v")
    val a = vecs.select(col("id"), col("v"))
    val crossed = a.crossJoin(a.select(col("id").as("id2"), col("v").as("v2")))
      .withColumn("cos", SimilarityOps.cosine(col("v"), col("v2")))
      .select("id", "id2", "cos").as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => (i, j) -> c }.toMap
    assert(math.abs(crossed((1L, 3L)) - 1.0) < 1e-12) // colinear
    assert(math.abs(crossed((1L, 2L))) < 1e-12)       // orthogonal
    assert(math.abs(crossed((1L, 1L)) - 1.0) < 1e-12)
  }

  test("cosine of a zero vector is NULL in BOTH forms and ranks LAST desc") {
    // the r11 contract: the zero vector has no direction — NULL (never
    // NaN, which Spark would rank ABOVE every real similarity; DuckDB's
    // 0-division yields NULL and ranks it last, like Spark's desc)
    graft.functions.GraftFunctions.register(spark)
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 0.0f)), (2L, Array(3.0f, 4.0f)))
      .toDF("id", "v")
    val crossed = vecs.crossJoin(
        vecs.select(col("id").as("id2"), col("v").as("v2")))
      .withColumn("composed", SimilarityOps.cosine(col("v"), col("v2")))
      .withColumn("native", call_function("graft_cosine", col("v"), col("v2")))
    val rows = crossed.select("id", "id2", "composed", "native").collect()
    rows.foreach { r =>
      val zeroSide = r.getLong(0) == 0L || r.getLong(1) == 0L
      assert(r.isNullAt(2) === zeroSide, s"composed: $r")
      assert(r.isNullAt(3) === zeroSide, s"native: $r")
    }
    // desc ranking: the zero vector lands strictly last for every query
    val ranked = crossed.filter(col("id") === 1L)
      .orderBy(col("native").desc, col("id2"))
      .select("id2").as[Long].collect().toSeq
    assert(ranked.last === 0L, ranked.toString)
  }

  test("ANN LSH results are a subset quality-bounded by brute force") {
    val brute = SimilarityOps.q40CosineTopK(spark, TestSpark.sf)
      .select("q_id", "sim").as[(Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val ann = SimilarityOps.q42AnnLsh(spark, TestSpark.sf)
      .select("q_id", "sim").as[(Long, Double)].collect()
    assert(ann.nonEmpty)
    // an ANN similarity can never exceed the brute-force best for that query
    assert(ann.forall { case (q, s) => s <= brute(q) + 1e-9 })
  }

  test("IVF ANN results are quality-bounded by brute force and well-formed") {
    val brute = SimilarityOps.q40CosineTopK(spark, TestSpark.sf)
      .select("q_id", "sim").as[(Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val ivf = SimilarityOps.q56AnnIvf(spark, TestSpark.sf)
      .select("q_id", "c_id", "sim", "rk").as[(Long, Long, Double, Int)].collect()
    assert(ivf.nonEmpty)
    assert(ivf.forall { case (q, c, s, _) => q != c && s <= brute(q) + 1e-9 })
    // ranks contiguous from 1 per query
    ivf.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._4).sorted.toSeq === (1 to rows.length))
    }
  }

  test("embedding near-dup: LSH-blocked pairs, verified cosine, sorted top-k") {
    val out = SimilarityOps.q61EmbeddingNearDup(spark, TestSpark.sf)
      .as[(Long, Long, Double)].collect()
    assert(out.nonEmpty && out.length <= 25)
    assert(out.forall { case (a, b, s) => a < b && s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9 })
    // descending similarity, deterministic tie-break already applied
    assert(out.map(_._3).toSeq === out.map(_._3).sortBy(-_).toSeq)
  }

  test("native cosine reads float arrays directly, bit-identical to composed form") {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.load(spark, TestSpark.sf, "embeddings").limit(50)
    val rows = e.select(
      call_function("graft_cosine", col("embedding"), reverse(col("embedding")))
        .as("native_float"),
      call_function("graft_cosine", col("embedding").cast("array<double>"),
        reverse(col("embedding")).cast("array<double>")).as("native_double"),
      call_function("graft_cosine", col("embedding"),
        reverse(col("embedding")).cast("array<double>")).as("native_mixed"),
      SimilarityOps.cosine(col("embedding"), reverse(col("embedding")))
        .as("composed")).collect()
    rows.foreach { r =>
      // float->double widening is exact: all four paths must agree to the bit
      assert(r.getDouble(0) === r.getDouble(3))
      assert(r.getDouble(1) === r.getDouble(3))
      assert(r.getDouble(2) === r.getDouble(3))
    }
  }

  test("function builders reject wrong arity at analysis time") {
    graft.functions.GraftFunctions.register(spark)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    val e1 = intercept[Throwable] { spark.sql("SELECT graft_cosine(array(1.0))").collect() }
    assert(messages(e1).exists(_.contains("exactly 2 arguments")), e1.toString)
    val e2 = intercept[Throwable] {
      spark.sql("SELECT graft_jaccard_sorted(array('a'), array('a'), array('a'))").collect()
    }
    assert(messages(e2).exists(_.contains("exactly 2 arguments")), e2.toString)
  }

  test("native rolling hash is bit-identical to the composed HOF fold") {
    graft.functions.GraftFunctions.register(spark)
    val rows = Tables.load(spark, TestSpark.sf, "documents")
      .select(TextOps.tokens(col("text")).as("toks"))
      .select(
        call_function("graft_rolling_hash", col("toks")).as("native"),
        TextOps.rollingHash(col("toks")).as("composed"))
      .as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, c) => assert(n === c) }
    // empty array folds to the initial accumulator in both forms
    val empty = Seq(Seq.empty[String]).toDF("toks")
      .select(call_function("graft_rolling_hash", col("toks")),
        TextOps.rollingHash(col("toks"))).as[(Long, Long)].head()
    assert(empty === ((0L, 0L)))
  }

  test("minhash band keys: equal sets collide everywhere, disjoint sets nowhere") {
    graft.functions.GraftFunctions.register(spark)
    val sets = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("a b c", "b c d", "c d e")),
      (3L, Seq("x y z", "y z w", "z w v"))).toDF("id", "toks")
    val bandsOf = sets.select(col("id"),
      call_function("graft_minhash_bands", col("toks"), lit(32), lit(16)).as("b"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(bandsOf(1L).length === 16)
    assert(bandsOf(1L) === bandsOf(2L))              // identical sets: all bands equal
    assert(bandsOf(1L).intersect(bandsOf(3L)).isEmpty) // disjoint sets: no band equal
  }

  test("rolling fingerprint is order-sensitive; min-token sketch is not") {
    // both key families share the property: xxhash64 (the fused native
    // path) and md5-derived ints (q62's oracle-checkable emitted form)
    val fps = docs.select(col("doc_id"),
      TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextOps.rollingHash(col("toks")).as("fp_rolling"),
        array_min(transform(col("toks"), tk => xxhash64(tk))).as("fp_min_token"),
        TextOps.md5RollingHash(col("toks")).as("fp_md5roll"),
        array_min(transform(col("toks"), tk => TextOps.md5TokenHash(tk)))
          .as("fp_md5min"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(fps(1L)._1 === fps(4L)._1) // exact copy: same rolling hash
    assert(fps(1L)._1 !== fps(2L)._1) // word shuffle: different rolling hash
    assert(fps(1L)._2 === fps(2L)._2) // ...but same min-token sketch
    assert(fps(1L)._3 === fps(4L)._3) // md5 fold: copy-stable
    assert(fps(1L)._3 !== fps(2L)._3) // md5 fold: order-sensitive
    assert(fps(1L)._4 === fps(2L)._4) // md5 min sketch: order-insensitive
    // the registered query runs end-to-end on the real table
    val out = TextOps.q62RollingFingerprint(spark, TestSpark.sf)
    assert(out.count() > 0)
  }

  test("stratified sample: content-hashed, rates near targets, re-shard stable") {
    val out = TextOps.q65StratifiedSample(spark, TestSpark.sf)
      .as[(String, Long, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (lang, total, sampled, rate) =>
      assert(sampled >= 0 && sampled <= total, s"$lang")
      assert(rate >= 0.0 && rate <= 1.0)
    }
    // the draw is a pure function of content: repartitioning the corpus
    // (the failure mode that breaks seeded sampleBy) must not move a doc
    val docsTbl = Tables.load(spark, TestSpark.sf, "documents")
    def keptIds(df: org.apache.spark.sql.DataFrame): Set[Long] = df
      .filter(TextOps.stratifiedKeep(col("lang"),
        TextOps.contentSampleHash("graft-sample-42"), TextOps.sampleFractions))
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds(docsTbl) === keptIds(docsTbl.repartition(13)))
    // a stratum with no fraction entry is kept wholesale, not dropped
    val other = Seq((1L, "some text", "xx"), (2L, "more text", "xx"))
      .toDF("doc_id", "text", "lang")
    assert(keptIds(other) === Set(1L, 2L))
  }

  test("bpe-ish tokenizer: contractions/digits/punct split off, counts sane") {
    val crafted = Seq("it's 123 abc!!").toDF("text")
      .select(size(regexp_extract_all(col("text"), lit(TextOps.bpePattern), lit(0))))
      .as[Int].head()
    assert(crafted === 5) // [it]['s][ 123][ abc][!!]
    val out = TextOps.q67BpeTokens(spark, TestSpark.sf)
      .as[(Long, String, Int, Int, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (_, _, nBpe, nWs, cpt) =>
      assert(nBpe >= nWs) // BPE-ish units are at least as fine as whitespace
      assert(cpt > 0.0)
    }
  }

  test("split leakage audit equals q38 pairs filtered by differing q64 splits") {
    val out = DedupOps.q68SplitLeakage(spark, TestSpark.sf)
      .as[(Long, Long, Double, String, String)].collect()
    out.foreach { case (_, _, j, sa, sb) =>
      assert(j >= 0.5)
      assert(sa !== sb)
    }
    // recompute the expected crossing set from the two building blocks
    val splits = TextOps.q64HashSplit(spark, TestSpark.sf) // sanity: runs
    assert(splits.count() > 0)
    val splitOf = Tables.load(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), TextOps.splitAssign(col("text")).as("s"))
      .as[(Long, String)].collect().toMap
    val expected = DedupOps.q38NgramJaccard(spark, TestSpark.sf)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => splitOf(a) != splitOf(b) }
      .map(t => (t._1, t._2)).toSet
    assert(out.map(t => (t._1, t._2)).toSet === expected)
  }

  test("sequence packing: prefix-sum pack assignment, deterministic per shard") {
    val out = TextOps.q69PackSequences(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // recompute the next-fit prefix-sum assignment driver-side
    out.groupBy(_._2).foreach { case (_, docs) =>
      var before = 0L
      docs.sortBy(_._1).foreach { case (_, _, n, pack) =>
        assert(pack === before / 512)
        before += n
      }
    }
    // packs fill to the budget: a pack only closes once the shard's
    // cumulative token count has crossed its boundary, so the total
    // tokens of packs 0..p must reach (p+1)*budget for every non-final p
    out.groupBy(_._2).foreach { case (shard, docs) =>
      val lastPack = docs.map(_._4).max
      (0L until lastPack).foreach { p =>
        val through = docs.filter(_._4 <= p).map(_._3).sum
        assert(through >= (p + 1) * 512, s"shard $shard pack $p under-filled")
      }
    }
  }

  test("quality pruning keeps the top half per language with higher quality mass") {
    val out = TextOps.q70QualityPrune(spark, TestSpark.sf)
      .as[(String, Long, Long, Double, Double, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (lang, total, kept, sumAll, sumKept, _) =>
      assert(kept >= 1 && kept <= total, lang)
      // percent_rank <= 0.5 keeps roughly half (exact count depends on ties)
      assert(kept >= total / 2 && kept <= total / 2 + 2, lang)
      assert(sumKept <= sumAll + 1e-9)
      // kept half has at least its proportional share of the quality mass
      assert(sumKept >= sumAll * kept / total - 1e-9, lang)
    }
  }

  test("lang-id predicts en for English stopword text") {
    val out = TextOps.q35LangId(spark, TestSpark.sf)
    assert(out.filter(col("lang_pred") === "en").count() > 0)
    val schema = out.columns.toSeq
    assert(schema.containsSlice(Seq("s_en", "s_es", "s_de", "s_fr", "s_zh")))
  }

  test("fingerprint: md5 is whitespace-normalization invariant") {
    val d2 = Seq((1L, "a  b\tc"), (2L, "a b c")).toDF("doc_id", "text")
    val fps = d2.select(
      md5(regexp_replace(lower(col("text")), "\\s+", " ").cast("binary")).as("fp"))
      .as[String].collect()
    assert(fps(0) === fps(1))
  }

  test("blocked fuzzy match finds the planted cold/old name variants only in-block") {
    val m = DedupOps.q91FuzzyBlocked(spark, TestSpark.sf).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      // pairs always share the blocking noun and respect the threshold
      assert(a.split(" ")(1) === b.split(" ")(1))
      assert(r.getAs[Int]("dist") <= 3 && a < b)
    }
    // the planted near-identical family: 'cold <noun>' vs 'old <noun>' at distance 1
    val d1 = m.filter(_.getAs[Int]("dist") === 1)
    assert(d1.nonEmpty)
    assert(d1.forall(r => r.getString(0).startsWith("cold ") &&
      r.getString(1).startsWith("old ")))
  }

  test("containment dedup: scores recompute, full-dups score 1.0, excerpt found") {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val out = DedupOps.q113ContainmentDedup(spark, TestSpark.sf).collect()
    assert(out.nonEmpty)
    val grams = docs.select(col("doc_id"), DedupOps.shingles(col("text")).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    out.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b)
      val (ga, gb) = (grams(a).toSet, grams(b).toSet)
      assert(r.getAs[Int]("n_grams_a") === ga.size)
      assert(r.getAs[Int]("n_grams_b") === gb.size)
      val expect = BigDecimal(ga.intersect(gb).size.toDouble / math.min(ga.size, gb.size))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("containment") === expect)
      assert(expect >= 0.5)
    }
    // exact duplicates (q30's basis guarantees some) must appear at 1.0
    assert(out.exists(_.getAs[Double]("containment") === 1.0))
  }

  test("containment catches a planted low-jaccard excerpt pair") {
    // doc B = doc A's text embedded in 10x more filler: jaccard is tiny,
    // containment is 1.0 — the pair symmetric near-dup ops can't see
    val core = (1 to 20).map(i => s"core$i").mkString(" ")
    val filler = (1 to 200).map(i => s"filler$i").mkString(" ")
    val df = Seq((1L, core), (2L, s"$filler $core"))
      .toDF("doc_id", "text")
    graft.functions.GraftFunctions.register(spark)
    val sh = df.select(col("doc_id"), DedupOps.shingles(col("text")).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    val inter = sh(1L).toSet.intersect(sh(2L).toSet).size
    val jacc = inter.toDouble / sh(1L).toSet.union(sh(2L).toSet).size
    val cont = inter.toDouble / math.min(sh(1L).size, sh(2L).size)
    assert(jacc < 0.1) // symmetric score misses it
    assert(cont >= 0.9) // containment sees it (boundary shingles only differ)
  }

  // ------------------------------------------------------------ q118 skyline
  test("skyline equals the quadratic dominance filter on the real corpus") {
    val got = graft.ops.TextOps.q118Skyline(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality"),
        r.getAs[Long]("n_chars")))
    assert(got.nonEmpty)
    val all = Tables.load(spark, TestSpark.sf, "documents")
      .select(col("doc_id"),
        graft.ops.TextOps.qualityScore(col("text"), col("n_chars")).as("q"),
        col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val brute = all.filter { case (_, q, c) =>
      !all.exists { case (_, q2, c2) =>
        q2 >= q && c2 >= c && (q2 > q || c2 > c)
      }
    }.sortBy { case (id, q, _) => (-q, id) }
    assert(got.toSeq === brute.toSeq)
  }

  test("skyline keeps mutually-tied maxima and drops every dominated doc") {
    import spark.implicits._
    // (quality, chars): two ties at the top-right corner survive together;
    // (0.9, 50) dominated by (0.9, 100); (0.8, 100) dominated by (0.9, 100)
    val docs = Seq(
      (1L, 0.9, 100L), (2L, 0.9, 100L), (3L, 0.9, 50L),
      (4L, 0.8, 100L), (5L, 0.8, 200L))
      .toDF("doc_id", "quality", "n_chars")
    val frontier = graft.ops.TextOps.skylineFrontier(docs)
      .select("doc_id").as[Long].collect().sorted
    assert(frontier.toSeq === Seq(1L, 2L, 5L))
  }

  test("negative sampling: label-disjoint, ranked, bucket-consistent, salt-sensitive") {
    val rows = SimilarityOps.q128NegativeSampling(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("anchor_label") != r.getAs[Int]("neg_label"))
      assert(r.getAs[Int]("rk") >= 1 && r.getAs[Int]("rk") <= 3)
    }
    // every sampled pair shares the anchor's hash bucket (the blocking claim)
    val e = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), substring(md5(concat(lit("graft-neg-7:"),
        col("vec_id").cast("string")).cast("binary")), 1, 1).as("bkt"))
    val got = SimilarityOps.q128NegativeSampling(spark, TestSpark.sf)
    val crossBucket = got
      .join(e.select(col("vec_id").as("anchor_id"), col("bkt").as("ba")), "anchor_id")
      .join(e.select(col("vec_id").as("neg_id"), col("bkt").as("bb")), "neg_id")
      .filter(col("ba") =!= col("bb")).count()
    assert(crossBucket === 0L)
    // a different salt re-buckets: the pair set must actually move
    val other = SimilarityOps.q128NegativeSampling(spark, TestSpark.sf,
      salt = "graft-neg-8").collect()
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("anchor_id"), r.getAs[Long]("neg_id"))
    assert(rows.map(key).toSet != other.map(key).toSet)
    // the 256-bucket tier (r7 scale fix — candidates are n²/nBuckets, so
    // the bucket count must grow with the corpus): explicit 256 keeps the
    // sampling deterministic and each anchor's negatives inside its
    // 2-hex-digit bucket; below the 10k-vector tier threshold the
    // adaptive default stays at 16 (same rows as the explicit call)
    val wide = SimilarityOps.q128NegativeSampling(spark, TestSpark.sf,
      nBuckets = 256)
    val e2 = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), substring(md5(concat(lit("graft-neg-7:"),
        col("vec_id").cast("string")).cast("binary")), 1, 2).as("bkt"))
    val crossBucket2 = wide
      .join(e2.select(col("vec_id").as("anchor_id"), col("bkt").as("ba")), "anchor_id")
      .join(e2.select(col("vec_id").as("neg_id"), col("bkt").as("bb")), "neg_id")
      .filter(col("ba") =!= col("bb")).count()
    assert(crossBucket2 === 0L)
    val explicit16 = SimilarityOps.q128NegativeSampling(spark, TestSpark.sf,
      nBuckets = 16).collect()
    assert(rows.map(key).toSeq === explicit16.map(key).toSeq)
  }

  test("ppjoin: exact recall on a corpus with all its mass AT the threshold") {
    // 8-token docs sliding by 2 over a shared word stream: adjacent docs
    // share 4 of their 6 3-gram shingles both ways -> jaccard = 4/8 = 0.5
    // EXACTLY, the worst case for probabilistic banding and precisely the
    // corpus the round-4 ADVICE warned about. Prefix filtering must find
    // every adjacent pair and nothing else.
    val words = (0 until 70).map(i => f"w$i%03d")
    val tdocs = (0 until 31).map { i =>
      (i.toLong, words.slice(2 * i, 2 * i + 8).mkString(" "), "s")
    }.toDF("doc_id", "text", "source")
    val got = DedupOps.ppjoinPairs(tdocs)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val want = (0 until 30).map(i => (i.toLong, i + 1L, 0.5)).toSet
    assert(got === want)
  }

  test("ppjoin: set-identical to brute force on a mixed synthetic corpus") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => f"v$i%02d")
    val tdocs = (0 until 25).map { i =>
      val n = 5 + rnd.nextInt(12)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "), "s")
    }.toDF("doc_id", "text", "source")
    val sh = tdocs.select(col("doc_id"),
      DedupOps.shingles(col("text")).as("g"))
    val brute = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(call_function("graft_jaccard_sorted", col("a.g"), col("b.g")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val got = DedupOps.ppjoinPairs(tdocs)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === brute)
  }

  test("nearest-centroid: conserves counts and equals a driver brute force") {
    val e = Tables.load(spark, TestSpark.sf, "embeddings")
      .select("vec_id", "label", "embedding").collect()
    // the operator's exact integer grid, replicated independently:
    // HALF_UP round to 7dp, scale to long, truncating-division centroids
    val v7 = e.map { r =>
      val arr = r.getSeq[Float](2).map(x =>
        BigDecimal(x.toDouble).setScale(7, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(10000000)).toLongExact).toArray
      (r.getLong(0), r.getInt(1), arr)
    }
    val cent = v7.groupBy(_._2).map { case (lbl, vs) =>
      val dims = vs.head._3.length
      lbl -> Array.tabulate(dims) { i =>
        vs.map(_._3(i)).sum / vs.length // Long / truncates toward zero
      }
    }
    val brute = v7.map { case (_, trueLbl, a) =>
      val best = cent.map { case (lbl, c) =>
        val d2 = a.indices.map { i =>
          val d = a(i) - c(i); d * d
        }.sum
        (d2, lbl)
      }.min // ties break to the smaller label, same as min(struct)
      (trueLbl, best._2)
    }.groupBy(identity).map { case ((t, asg), g) => (t, asg, g.size.toLong) }
      .toSet
    val got = SimilarityOps.q143NearestCentroid(spark, TestSpark.sf)
      .as[(Int, Int, Long)].collect().toSet
    assert(got === brute)
    assert(got.toSeq.map(_._3).sum === e.length.toLong)
  }

  test("source overlap: identical sources match fully, disjoint not at all, estimator tracks truth") {
    graft.functions.GraftFunctions.register(spark)
    val synth = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "sA"),
      (2L, "iota kappa lambda mu nu xi omicron pi", "sA"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta", "sB"),
      (4L, "iota kappa lambda mu nu xi omicron pi", "sB"), // sB's shingle set == sA's
      (5L, "rho sigma tau upsilon phi chi psi omega", "sC") // disjoint
    ).toDF("doc_id", "text", "source")
    val m = DedupOps.sourceOverlap(synth).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(5), r.getLong(6))).toMap
    // identical shingle sets: every signature component matches, J = 1
    assert(m(("sA", "sB"))._1 === 64L)
    assert(m(("sA", "sB"))._3 === 10000L)
    // disjoint sets: nothing matches (md5 collision would need 2^-128)
    assert(m(("sA", "sC"))._1 === 0L && m(("sA", "sC"))._3 === 0L)
    assert(m(("sB", "sC"))._1 === 0L)
    // real corpus: the K=64 estimator stays within 25 points of truth
    val real = DedupOps.q147SourceOverlap(spark, TestSpark.sf).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(math.abs(r.getAs[Long]("est_bp") - r.getAs[Long]("true_bp")) <= 2500)
    }
  }

  test("int8 quantize: audit equals a driver brute force; codes stay in [-127,127]") {
    val e = Tables.load(spark, TestSpark.sf, "embeddings")
      .select("vec_id", "label", "embedding").collect()
    val perVec = e.map { r =>
      val a7 = r.getSeq[Float](2).map(x =>
        BigDecimal(x.toDouble).setScale(7, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(10000000)).toLongExact)
      val s7 = a7.map(math.abs).max
      val err2 = if (s7 == 0) 0L else a7.map { v =>
        val q = v * 127 / s7 // Long / truncates toward zero, like div
        assert(math.abs(q) <= 127)
        val rec = q * s7 / 127
        (v - rec) * (v - rec)
      }.sum
      (r.getInt(1), err2)
    }
    val want = perVec.groupBy(_._1).map { case (lbl, g) =>
      val errs = g.map(_._2)
      (lbl, g.length.toLong, BigDecimal(errs.map(BigDecimal(_)).sum.toBigInt),
        errs.max, (errs.map(BigInt(_)).sum / g.length).toLong)
    }.toSet
    val got = SimilarityOps.q146Int8Quantize(spark, TestSpark.sf)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        BigDecimal(r.getString(2)), r.getLong(3), r.getLong(4))).toSet
    assert(got === want)
  }

  test("ppjoin matches the banded pipeline on the real corpus") {
    val docsTbl = Tables.load(spark, TestSpark.sf, "documents")
    val pp = DedupOps.ppjoinPairs(docsTbl)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val banded = DedupOps.ngramNearDupPairs(docsTbl)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(pp === banded)
  }

  // ------------------------------------------------------------ q179 pca
  test("PCA power iterates match a BigInt brute force over the quantized vectors") {
    val got = SimilarityOps.q179PcaPower(spark, TestSpark.sf).collect().map { r =>
      r.getLong(0).toInt -> Seq("w1", "w2", "w3")
        .map(c => BigInt(r.getAs[String](c)))
    }.toMap
    // the engine's own a7→int8 grid (pinned separately by the q146 spec);
    // what this pins is the partition-folded Gram + the iterate chain
    val qs = Tables.load(spark, TestSpark.sf, "embeddings")
      .withColumn("a7", expr(SimilarityOps.a7GridSql))
      .withColumn("s7", expr(SimilarityOps.s7ScaleSql))
      .select(expr(SimilarityOps.int8VecSql))
      .as[Seq[Long]].collect()
    val dim = 64
    val g = Array.fill(dim, dim)(BigInt(0))
    qs.foreach { q =>
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { g(i)(j) += BigInt(q(i)) * BigInt(q(j)); j += 1 }
        i += 1
      }
    }
    val w1 = (0 until dim).map(i => g(i).sum)
    val w2 = (0 until dim).map(i => (0 until dim).map(j => g(i)(j) * w1(j)).sum)
    val w3 = (0 until dim).map(i => (0 until dim).map(j => g(i)(j) * w2(j)).sum)
    assert(got.keySet === (1 to dim).toSet)
    (0 until dim).foreach { i =>
      assert(got(i + 1) === Seq(w1(i), w2(i), w3(i)), s"dim ${i + 1}")
    }
    // the corpus has a genuine principal direction: iterates are not all zero
    assert(w3.exists(_.signum != 0))
  }

  // ------------------------------------------------------------ q186
  test("split centroid drift matches a driver-side BigInt recompute") {
    val got = SimilarityOps.q186SplitCentroidDrift(spark, TestSpark.sf)
      .collect().map { r =>
        r.getInt(0) -> (r.getLong(1), r.getLong(2),
          BigInt(r.getAs[String]("l1_scaled")),
          BigInt(r.getAs[String]("max_dim_scaled")),
          r.getLong(5))
      }.toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val vecs = Tables.load(spark, TestSpark.sf, "embeddings")
      .withColumn("a7", expr(SimilarityOps.a7GridSql))
      .select("vec_id", "label", "a7")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toVector))
    val dim = 64
    vecs.groupBy(_._2).foreach { case (label, rows) =>
      val (tr, ev) = rows.partition(v =>
        md5hex(s"graft-split:${v._1}").charAt(0) < 'c')
      val st = (0 until dim).map(i => tr.map(r => BigInt(r._3(i))).sum)
      val se = (0 until dim).map(i => ev.map(r => BigInt(r._3(i))).sum)
      val (nt, ne) = (BigInt(tr.size), BigInt(ev.size))
      val dds = (0 until dim).map(i => (ne * st(i) - nt * se(i)).abs)
      var best = (BigInt(-1), 0)
      dds.zipWithIndex.foreach { case (dv, i) =>
        if (dv > best._1) best = (dv, i)
      }
      assert(got(label) === ((tr.size.toLong, ev.size.toLong, dds.sum,
        best._1, best._2.toLong)), s"label $label")
    }
    assert(got.keySet === vecs.map(_._2).toSet)
  }

  test("jaro-winkler expression: textbook values, boost threshold, symmetry, codegen") {
    import graft.functions.JaroWinklerAlgo
    // textbook cases (Winkler's standard parameterization)
    assert(math.abs(JaroWinklerAlgo.score("martha", "marhta") - 0.9611111111111111) < 1e-15)
    assert(math.abs(JaroWinklerAlgo.score("dixon", "dicksonx") - 0.8133333333333332) < 1e-15)
    // below the 0.7 boost threshold the shared prefix earns NO bonus
    assert(math.abs(JaroWinklerAlgo.score("abcdxxxx", "abcdyyyy") - 2.0 / 3) < 1e-15)
    assert(JaroWinklerAlgo.score("same", "same") === 1.0)
    assert(JaroWinklerAlgo.score("", "x") === 0.0)
    // the registered expression runs through codegen and matches the algo
    graft.functions.GraftFunctions.register(spark)
    val rows = Seq(("martha", "marhta"), ("dixon", "dicksonx"),
      ("abcdxxxx", "abcdyyyy"), ("small ring", "small rig"))
      .toDF("a", "b")
      .selectExpr("a", "b", "graft_jaro_winkler(a, b) AS jw",
        "graft_jaro_winkler(b, a) AS jw_rev")
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(2) === JaroWinklerAlgo.score(r.getString(0), r.getString(1)))
      assert(r.getDouble(2) === r.getDouble(3), "JW must be symmetric")
    }
  }

  test("sorted-neighborhood pairs equal a single-window replay and respect the n·w bound") {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    val sf = TestSpark.sf
    val got = DedupOps.q197SortedNeighborhood(spark, sf).collect().map(_.toSeq)
    // replay with ONE plain global window (the spelling bandedRank must equal)
    val keyed = Tables.load(spark, sf, "documents").select(col("doc_id"),
      regexp_replace(lower(col("text")), "[ \\t\\n\\x0B\\f\\r]+", " ").as("norm"),
      DedupOps.shingles(col("text")).as("toks"))
      .withColumn("rn", row_number().over(Window.orderBy("norm", "doc_id")).cast("long"))
    val probes = keyed
      .select(col("doc_id").as("doc_a"), col("toks").as("sh_a"), col("rn"),
        explode(sequence(lit(1), lit(4))).as("dist"))
      .select(col("doc_a"), col("sh_a"), col("dist"), (col("rn") + col("dist")).as("rn2"))
    val expect = probes
      .join(keyed.select(col("doc_id").as("doc_b"), col("toks").as("sh_b"),
        col("rn").as("rn2")), "rn2")
      .select(col("doc_a"), col("doc_b"), col("dist"),
        round(call_function("graft_jaccard_sorted", col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .collect().map(_.toSeq)
    assert(got.nonEmpty && got.toSeq === expect.toSeq)
    // the candidate basis is exactly bounded: n·w pairs before verification
    val n = keyed.count()
    assert(got.length <= n * 4)
  }

  test("MMR rerank: picks equal an independent greedy replay over top-20") {
    val picks = SimilarityOps.q208MmrRerank(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("step"),
        r.getAs[Long]("c_id"), r.getAs[Long]("score")))
    val byQ = picks.groupBy(_._1)
    assert(byQ.keySet === (0L until 10L).toSet)
    // independently recompute rel6 / pairwise sim6 from raw embeddings
    val e = Tables.load(spark, TestSpark.sf, "embeddings")
    val sim6 = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"),
        (round(SimilarityOps.cosine(col("a.embedding"), col("b.embedding")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
          .cast("long").as("s6"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    byQ.foreach { case (q, ps) =>
      val ordered = ps.sortBy(_._2)
      assert(ordered.map(_._2).toSeq === (1 to 8))
      assert(ordered.map(_._3).distinct.length === 8, "duplicate picks")
      // full independent greedy replay: top-20 candidate cut by
      // (rel desc, id), then 8 argmax steps of 7·rel6 − 3·maxsim6 with
      // (score desc, id asc) tie-break — must reproduce picks AND scores
      val allRel = sim6.collect { case ((x, y), s) if x == q && y != q => (y, s) }.toSeq
      val cands = allRel.sortBy { case (id, s) => (-s, id) }.take(20)
      assert(ordered.head._3 === cands.head._1, "step 1 is the relevance argmax")
      var sel = List.empty[Long]
      val replay = (1 to 8).map { step =>
        val (score, cid) = cands
          .filterNot { case (id, _) => sel.contains(id) }
          .map { case (id, rel) =>
            val ms = if (sel.isEmpty) 0L else sel.map(s => sim6((id, s))).max
            (7L * rel - 3L * ms, id)
          }
          .maxBy { case (sc, id) => (sc, -id) }
        sel ::= cid
        (q, step, cid, score)
      }
      assert(ordered.toSeq === replay, s"q=$q greedy replay diverged")
    }
  }

  test("MMR rerank on a sub-k corpus emits one pick per candidate, no crash") {
    // 4 vectors, every one a query (id < 10): each query sees 3 candidates,
    // fewer than k = 8 — the greedy loop must stop at the pool size (the
    // oracle's unrolled steps emit the same shorter list), not maxBy an
    // empty list on step 4
    val dir = java.nio.file.Files.createTempDirectory("graft_mmr_subk").toString
    val vecs = (0L until 4L).map { i =>
      (i, Array.tabulate(64)(j => if (j == i) 1.0f else 0.01f * j))
    }
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val picks = SimilarityOps.q208MmrRerank(spark, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("step"),
        r.getAs[Long]("c_id")))
    assert(picks.length === 4 * 3)
    picks.groupBy(_._1).foreach { case (q, ps) =>
      assert(ps.map(_._2).sorted.toSeq === (1 to 3), s"q=$q steps")
      assert(ps.map(_._3).distinct.length === 3, s"q=$q duplicate picks")
      assert(!ps.map(_._3).contains(q), s"q=$q picked itself")
    }
  }

  test("q222 matryoshka: full-dim rows are perfect, every (query, m) cell present") {
    val rows = SimilarityOps.q222Matryoshka(spark, TestSpark.sf).collect()
    val k = 10
    // one row per (query, m) — zero-overlap cells must NOT vanish
    val qs = rows.map(_.getLong(0)).distinct
    assert(rows.length === qs.length * 4)
    rows.foreach { r =>
      val (m, ov, bp) = (r.getInt(1), r.getAs[Long]("overlap"),
        r.getAs[Long]("recall_bp"))
      assert(ov >= 0L && ov <= k.toLong)
      assert(bp === ov * 10000L / k)
      if (m == 64) assert(ov === k.toLong, s"full-dim overlap must be $k")
    }
    // truncation can only be audited against itself: prefix ranking at
    // m=32 should agree with the full list more than m=8 ON AVERAGE
    val byM = rows.groupBy(_.getInt(1)).view
      .mapValues(_.map(_.getAs[Long]("overlap")).sum).toMap
    assert(byM(32) >= byM(8), s"m=32 total overlap ${byM(32)} < m=8 ${byM(8)}")
  }

  test("q233 incremental verdicts equal the full pair set restricted to its universe") {
    val got = DedupOps.q233IncrementalDedup(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getString(4)))
    // full symmetric pair basis (q140), then restrict to pairs touching
    // an odd (incoming) doc on the canonical side the incremental join
    // uses: partner=corpus any order, batch pairs lower-id-first
    val full = DedupOps.q140PpjoinExact(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val touching = full.flatMap { case (a, b, j) =>
      Seq((a, b, j), (b, a, j)) // both orientations
    }.filter { case (partner, inc, _) =>
      inc % 2 == 1 && (partner % 2 == 0 || partner < inc)
    }
    val byInc = touching.groupBy(_._2)
    got.foreach { case (id, nm, bj, bp, verdict) =>
      byInc.get(id) match {
        case None =>
          assert(nm === 0L && verdict === "keep" && bj.isEmpty && bp.isEmpty)
        case Some(ps) =>
          assert(nm === ps.length.toLong && verdict === "drop")
          val best = ps.maxBy(p => (p._3, -p._1))
          assert(bj.contains(best._3) && bp.contains(best._1))
      }
    }
    // every incoming doc got a verdict row
    assert(got.map(_._1).toSet ===
      Tables.load(spark, TestSpark.sf, "documents")
        .filter(pmod(col("doc_id"), lit(2)) === 1)
        .collect().map(_.getLong(0)).toSet)
  }

  test("ppjoin hot-bucket split: cells bounded, pair set identical to unsalted") {
    // Planted HOT-GRAM corpus — the sf1 straggler regime distilled: a
    // 10-word vocabulary makes every surviving prefix gram's candidate
    // bucket hold a large share of the corpus, so without splitting one
    // join task owns a quadratic bucket (fresh-JVM sf1 q140 spread was
    // 15.5–53.8 s on identical data). 240 deterministic docs, 30 tokens.
    graft.functions.GraftFunctions.register(spark)
    val hotDocs = (0 until 240).map { i =>
      val toks = (0 until 30).map(p => s"w${(i * 7 + p * (1 + i % 3)) % 10}")
      (i.toLong, toks.mkString(" "), "s")
    }.toDF("doc_id", "text", "source")

    // 1) mechanism: hot grams get fanout > 1 and no (gram, salt) cell
    //    keeps more than a hash-noise multiple of its fair share
    val sh = hotDocs.select(col("doc_id"),
      DedupOps.shingles(col("text"), 3).as("grams"))
    val pre = DedupOps.ppjoinPrefix(sh, tNum = 1, tDen = 2,
      hotBucketDf = DedupOps.HotBucketDf,
      maxSaltFanout = DedupOps.MaxSaltFanout)
    val cells = pre.groupBy("gram", "fanout", "salt")
      .agg(count(lit(1)).as("cell"))
      .groupBy("gram", "fanout")
      .agg(sum(col("cell")).as("bucket"), max(col("cell")).as("max_cell"),
        count(lit(1)).as("n_cells"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(cells.exists(_._2 > 1), "fixture must actually trigger splitting")
    cells.filter(_._2 > 1).foreach { case (gram, fanout, bucket, maxCell, _) =>
      val fair = bucket.toDouble / fanout
      assert(maxCell <= math.max(4 * fair, 16.0),
        s"gram $gram: cell $maxCell vs fair share $fair at fanout $fanout")
    }
    // hot buckets really did use more than one cell
    assert(cells.filter(c => c._2 > 1 && c._3 >= 2 * DedupOps.HotBucketDf)
      .forall(_._5 > 1))

    // 2) recall-losslessness: the salted join emits EXACTLY the pairs the
    //    unsalted (maxSaltFanout = 1 degenerates to the pre-split plan)
    //    join does, jaccard values included
    def pairSet(fanout: Int) =
      DedupOps.ppjoinPairs(hotDocs, maxSaltFanout = fanout)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = pairSet(DedupOps.MaxSaltFanout)
    val unsalted = pairSet(1)
    assert(salted.nonEmpty, "fixture must produce qualifying pairs")
    assert(salted === unsalted)
  }

  test("simhash hot-bucket split: cells bounded, pair set identical to unsalted") {
    // Planted MEGA-CLIQUE — the boilerplate regime the r9 verdict flagged
    // for q37: near-identical docs have identical simhashes, so all four
    // 16-bit chunks collide and an unsalted (chunk_idx, chunk_val) join
    // puts the whole clique's ~B² pair evaluations inside one task. 200
    // identical docs + 30 distinct background docs.
    val clique = (0 until 200).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta", "s"))
    val rest = (200 until 230).map(i =>
      (i.toLong, s"distinct background body u$i v${i * 3} w${i * 7} " +
        s"x${i * 11} y${i * 13} z${i * 17}", "s"))
    val hotDocs = (clique ++ rest).toDF("doc_id", "text", "source")
    val sh = DedupOps.simhashMd5(hotDocs)

    // 1) mechanism: the clique's chunk buckets get fanout > 1 and no
    //    (chunk, salt) cell keeps more than a hash-noise multiple of its
    //    fair share (same bound as the ppjoin split's spec)
    val chunks = sh.select(col("doc_id"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk_idx", "chunk_val")))
    val (build, _) = DedupOps.saltedBlockSides(chunks,
      Seq("chunk_idx", "chunk_val"), "doc_id")
    val cells = build.groupBy("chunk_idx", "chunk_val", "block_fanout", "block_salt")
      .agg(count(lit(1)).as("cell"))
      .groupBy("chunk_idx", "chunk_val", "block_fanout")
      .agg(sum(col("cell")).as("bucket"), max(col("cell")).as("max_cell"),
        count(lit(1)).as("n_cells"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(cells.exists(_._3 > 1), "fixture must actually trigger splitting")
    cells.filter(_._3 > 1).foreach { case (ci, cv, fanout, bucket, maxCell, _) =>
      val fair = bucket.toDouble / fanout
      assert(maxCell <= math.max(4 * fair, 16.0),
        s"chunk ($ci, $cv): cell $maxCell vs fair share $fair at fanout $fanout")
    }
    // hot buckets really did use more than one cell
    assert(cells.filter(c => c._3 > 1 && c._4 >= 2 * DedupOps.HotBucketDf)
      .forall(_._6 > 1))

    // 2) recall-losslessness: salted pairs == unsalted (maxSaltFanout = 1
    //    reproduces the pre-split plan), hamming distances included. The
    //    first-matching-chunk emission keys each pair to one chunk_idx and
    //    the salt to one cell within it, so counts must match exactly too.
    def pairSet(fanout: Int) =
      DedupOps.q37PairsFrom(sh, maxSaltFanout = fanout)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val salted = pairSet(DedupOps.MaxSaltFanout)
    val unsalted = pairSet(1)
    // every C(200,2) clique pair survives the split, at hamming 0, exactly once
    assert(salted.count(t => t._1 < 200 && t._2 < 200 && t._3 == 0) === 19900)
    assert(salted === unsalted)
  }

  test("noun-block hot-bucket split (q91/q204): pair sets identical to unsalted") {
    graft.functions.GraftFunctions.register(spark)
    // planted catalog: one mega-noun block (same blocking token, small
    // edits) + singleton-noun names that can never pair + SINGLE-WORD
    // names (no second token — the engine must block them together under
    // '' exactly as DuckDB's split_part does, not drop them via null)
    val names = ((0 until 150).map(i =>
      (f"shade$i%03d widget", 1L + i % 3)) ++
      (0 until 20).map(i => (s"lone gadget$i extra$i", 1L)) ++
      Seq(("gizmo", 2L), ("gizmos", 1L)))
      .toDF("p_name", "n_parts")
      // null-tolerant get(): ANSI-mode getItem(1) THROWS on 1-element
      // arrays (same construction as DedupOps.nounCatalog)
      .withColumn("noun",
        coalesce(get(split(col("p_name"), " "), lit(1)), lit("")))
    def lev(f: Int) = DedupOps.q91PairsFrom(names, maxDist = 3, maxSaltFanout = f)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val levSalted = lev(DedupOps.MaxSaltFanout)
    assert(levSalted.nonEmpty, "fixture must produce edit-distance matches")
    assert(levSalted.contains(("gizmo", "gizmos", 1)),
      "single-word names must pair through the '' block")
    assert(levSalted === lev(1))
    def jw(f: Int) = DedupOps.q204PairsFrom(names, threshold = 0.9, maxSaltFanout = f)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val jwSalted = jw(DedupOps.MaxSaltFanout)
    assert(jwSalted.nonEmpty, "fixture must produce jaro-winkler matches")
    assert(jwSalted === jw(1))
    // the mega-noun block really split: fanout > 1 on the hot noun
    val (build, _) = DedupOps.saltedBlockSides(names, Seq("noun"), "p_name")
    val hot = build.filter(col("noun") === "widget")
      .select("block_fanout").distinct().collect().map(_.getInt(0))
    assert(hot.length === 1 && hot.head > 1)
  }

  test("q208 MMR: a single-candidate query still emits its step-1 pick") {
    // two embeddings: each query's candidate pool is the OTHER vector
    // only, so its pair list is EMPTY — the per-query join must not drop
    // the query (step 1 never consults the pair map; the oracle's
    // unrolled step 1 emits the pick either way)
    val e = Seq((0L, Array.fill(64)(1.0f)),
      (1L, Array.fill(63)(1.0f) :+ 2.0f))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.q208From(e)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSet === Set((0L, 1, 1L), (1L, 1, 0L)))
  }
}
