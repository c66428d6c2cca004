package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.operators.{Dedup, Ingest}

/** ScalaCheck property tests (SURVEY.md §5 step 3): totality of the
  * normalization over arbitrary strings, cosine bounds/symmetry on
  * generated vectors, minhash monotonicity, upsert idempotence. Driver
  * work batches generated cases into single Spark jobs. */
class PropertySpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  test("normalization is TOTAL: any string yields exactly the declared shape") {
    val cases = Gen.listOfN(80,
      Gen.oneOf(
        Gen.asciiPrintableStr,
        Gen.alphaNumStr,
        Gen.const("""{"a": 1}"""),
        Gen.const("""{"collection":"c","documents":["d"],"metadatas":[{}]}"""),
        Gen.const(""), Gen.const("{}"), Gen.const("[1,2]"), Gen.const("null")))
      .sample.get
    val df = cases.zipWithIndex.map { case (s, i) => (i, s) }.toDF("i", "raw")
    val pts = Ingest.toPoints(Ingest.normalize(df, "raw"), keep = Seq("i"))
    val rows = pts.collect()
    // every input row produced >= 1 point; collection/id never null
    assert(rows.map(_.getInt(0)).toSet == cases.indices.toSet)
    assert(rows.forall(r => r.getString(r.fieldIndex("collection")) != null))
    assert(rows.forall(r => r.getString(r.fieldIndex("id")) != null))
  }

  test("cosine: |cos|<=1+eps, symmetric, self-similarity 1 on generated vectors") {
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-100.0, 100.0))
      .suchThat(v => v.exists(_ != 0.0))
    val vecs = Gen.listOfN(40, vecGen).sample.get
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val a = df.select(col("id").as("ia"), col("v").as("va"))
    val b = df.select(col("id").as("ib"), col("v").as("vb"))
    val pairs = a.crossJoin(b).select(
      col("ia"), col("ib"),
      graft.functions.VectorOps.cosine(col("va"), col("vb")).as("ab"),
      graft.functions.VectorOps.cosine(col("vb"), col("va")).as("ba"))
      .collect()
    pairs.foreach { r =>
      val (ab, ba) = (r.getDouble(2), r.getDouble(3))
      assert(math.abs(ab) <= 1.0 + 1e-9)
      assert(ab == ba) // exact: same ops, order swapped only across args
      if (r.getLong(0) == r.getLong(1)) assert(math.abs(ab - 1.0) < 1e-9)
    }
  }

  test("manhattan: non-negative, symmetric, zero iff identical, triangle " +
       "inequality; matches a naive Scala model exactly") {
    val vecGen = Gen.listOfN(12, Gen.chooseNum(-50.0, 50.0))
    val vecs = Gen.listOfN(25, vecGen).sample.get
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val a = df.select(col("id").as("ia"), col("v").as("va"))
    val b = df.select(col("id").as("ib"), col("v").as("vb"))
    val pairs = a.crossJoin(b).select(col("ia"), col("ib"),
        graft.functions.VectorOps.l1(col("va"), col("vb")).as("ab"),
        graft.functions.VectorOps.l1(col("vb"), col("va")).as("ba"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    def naive(x: Seq[Double], y: Seq[Double]): Double =
      x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + math.abs(p - q) }
    pairs.foreach { case ((i, j), (ab, ba)) =>
      assert(ab >= 0.0 && ab == ba)
      assert(ab == naive(vecs(i.toInt), vecs(j.toInt)),
        "fused L1 diverges from the index-order Scala model")
      if (i == j) assert(ab == 0.0)
    }
    // triangle inequality over a sampled triple set (tolerance for the
    // re-associated double sums across the three pair evaluations)
    for (i <- 0 until 8; j <- 0 until 8; k <- 0 until 8)
      assert(pairs((i.toLong, k.toLong))._1 <=
        pairs((i.toLong, j.toLong))._1 + pairs((j.toLong, k.toLong))._1
          + 1e-9)
  }

  test("sampleRandom: the drawn set is a pure function of (seed, id) — " +
       "identical across partitionings; different seeds draw differently") {
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "label")
    def draw(df: org.apache.spark.sql.DataFrame, seed: String): Seq[Long] =
      graft.operators.Recommend.sampleRandom(df, "vec_id", seed, 25)
        .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    val base = draw(emb, "s1")
    assert(base.size == 25)
    assert(draw(emb.repartition(7), "s1") == base,
      "sample changed under repartition — not reshuffle-proof")
    assert(draw(emb.repartition(3, col("label")), "s1") == base,
      "sample changed under keyed partitioning")
    assert(draw(emb, "s2") != base,
      "two seeds drew the identical 25-point sample (astronomically " +
        "unlikely for a uniform hash — the seed is being ignored)")
  }

  test("jaccard stats kernel matches a naive Scala set model on " +
       "generated token arrays") {
    val tokGen = Gen.listOfN(Gen.chooseNum(0, 25).sample.get,
      Gen.oneOf("a", "b", "cc", "dd", "e f".trim, "gg", "h"))
    val pairs = Gen.listOfN(60, Gen.zip(tokGen, tokGen)).sample.get
    val df = pairs.zipWithIndex.map { case ((x, y), i) =>
      (i.toLong, x.mkString(" "), y.mkString(" ")) }
      .toDF("id", "ta", "tb")
    val cands = df.select(col("id").as("doc_a"),
      (col("id") + 1000000).as("doc_b"))
    val docs = df.select(col("id").as("doc_id"), col("ta").as("text"))
      .unionByName(df.select((col("id") + 1000000).as("doc_id"),
        col("tb").as("text")))
    val got = Dedup.jaccardVerifyInRow(cands, docs, "doc_id", "text",
        shingleN = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3))).toMap
    // the model re-tokenizes the JOINED text exactly like the engine
    // (multi-word "tokens" in the generator split into real tokens)
    def model(joined: String): Set[String] = {
      val t = joined.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (t.length >= 2) t.sliding(2).map(_.mkString(" ")).toSet
      else Set(t.mkString(" "))
    }
    pairs.zipWithIndex.foreach { case ((x, y), i) =>
      val (sa, sb) = (model(x.mkString(" ")), model(y.mkString(" ")))
      val inter = (sa & sb).size.toLong
      val expect = (inter, inter * 1000000L / (sa.size + sb.size - inter))
      assert(got(i.toLong) == expect,
        s"pair $i: got ${got(i.toLong)}, model $expect ($x vs $y)")
    }
  }

  test("minhash monotonicity: appending text can only LOWER each signature slot") {
    val base = Gen.listOfN(20, Gen.identifier.suchThat(_.nonEmpty))
      .sample.get.mkString(" ")
    val extra = " zz yy xx ww vv uu"
    val df = Seq((1L, base), (2L, base + extra)).toDF("doc_id", "text")
    val sig = Dedup.minhash(df, "doc_id", "text", numHashes = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    (0 until 16).foreach { s =>
      assert(sig((2L, s)) <= sig((1L, s)),
        s"seed $s: superset text must have <= minhash")
    }
  }

  test("upsert idempotence: upsert(upsert(x)) == upsert(x)") {
    val df = (1L to 50L).map(i => (i % 10, i, s"v$i")).toDF("id", "seq", "v")
    val once = Ingest.upsert(df, "id", "seq")
    val twice = Ingest.upsert(once, "id", "seq")
    assert(once.orderBy("id").collect().toSeq ==
           twice.orderBy("id").collect().toSeq)
    assert(once.count() == 10)
    // keep-last: each id kept the max seq
    assert(once.agg(sum("seq")).head().getLong(0) ==
      (41L to 50L).sum)
  }

  test("z-value: de-interleaving even/odd bits reconstructs both inputs " +
       "(generated 16-bit pairs); ordering groups shared prefixes") {
    val pairs = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L)))
      .sample.get
    val df = pairs.toDF("a", "b")
      .withColumn("z", graft.operators.Layout.zValue(col("a"), col("b"), 16))
    df.collect().foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val backA = (0 until 16).map(j => ((z >> (2 * j)) & 1L) << j).sum
      val backB = (0 until 16).map(j => ((z >> (2 * j + 1)) & 1L) << j).sum
      assert(backA == a && backB == b, s"z-value not invertible: ($a,$b,$z)")
    }
    // same-bucket pairs (z >> 23 equal) agree on the high bits of BOTH dims
    df.collect().groupBy(r => r.getLong(2) >> 23).values.foreach { g =>
      assert(g.map(_.getLong(0) >> 12).distinct.length == 1)
      assert(g.map(_.getLong(1) >> 11).distinct.length == 1)
    }
  }

  test("bloom positions: in-range, deterministic, and the probe accepts " +
       "exactly the built set plus a bounded false-positive tail") {
    import graft.operators.Bloom
    val (k, m) = (4, 2048)
    val keys = Gen.listOfN(150, Gen.chooseNum(0L, (1L << 32) - 1))
      .sample.get.distinct
    val df = keys.toDF("h")
    val bitmap = Bloom.build(df, col("h"), k, m)
    // members all probe true
    assert(df.filter(!Bloom.mightContain(bitmap, col("h"), k, m))
      .count() == 0)
    // non-members: false positives exist but stay well under 100%
    val others = (0 until 2000).map(i => 4294967296L + i).toDF("h")
    val fp = others.filter(Bloom.mightContain(bitmap, col("h"), k, m))
      .count()
    val fill = bitmap.map(java.lang.Long.bitCount).sum.toDouble / m
    val bound = math.pow(fill, k) * 3 + 0.01 // generous slack over fill^k
    assert(fp.toDouble / 2000 <= bound,
      s"fp rate ${fp / 2000.0} above bound $bound (fill $fill)")
  }

  test("bloom sizing from a KMV estimate: m = next pow2 >= 16*est, zero " +
       "false negatives, fp rate at the derived size near the design point") {
    import graft.operators.Bloom
    import graft.plans.KmvSketch
    val n = 3000L
    // deterministic member "hashes" (the same md5-prefix family the
    // declared query uses: 60-bit for the sketch, 32-bit for the filter)
    val members = spark.range(n).select(
      conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10)
        .cast("long").as("h60"),
      conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
        .cast("long").as("h"))
    val est = members
      .agg(floor(KmvSketch.estimate(KmvSketch.kmv(col("h60"), 64), 64))
        .cast("long"))
      .head().getLong(0)
    assert(math.abs(est - n) < n / 2, s"KMV estimate $est too far from $n")
    val m = Bloom.sizeFromEstimate(est)
    assert(Integer.bitCount(m) == 1 && m >= 16 * est,
      s"m=$m is not the next power of two above 16*$est")
    val k = 4
    val bitmap = Bloom.build(members, col("h"), k, m)
    assert(members.filter(!Bloom.mightContain(bitmap, col("h"), k, m))
      .count() == 0, "bloom produced a false negative")
    // non-members: at m >= 16n and k = 4 the design fpr is ~0.24%; the
    // estimate can undershoot, so allow up to 2%
    val probes = 20000L
    val others = spark.range(n, n + probes).select(
      conv(substring(md5(concat(lit("x"), col("id"))), 1, 8), 16, 10)
        .cast("long").as("h"))
    val fp = others.filter(Bloom.mightContain(bitmap, col("h"), k, m)).count()
    assert(fp.toDouble / probes <= 0.02,
      s"fp rate ${fp.toDouble / probes} above 2% at derived m=$m (est $est)")
  }

  test("term stats kernel matches a naive Scala model on generated " +
       "token arrays") {
    import spark.implicits._
    val terms = Seq("aa", "b", "ccc")
    val gen = Gen.listOfN(60,
      Gen.listOf(Gen.oneOf("aa", "b", "ccc", "d", "", "aa b")))
      .sample.get
    val rows = gen.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
    val st = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.TermStatsExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(col("toks")), terms))
    val got = rows.toDF("i", "toks")
      .select(col("i"), st.as("s"))
      .select(col("i"), col("s.len"), col("s.tfs"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    rows.foreach { case (i, ts) =>
      val (len, tfs) = got(i)
      assert(len == ts.length.toLong, s"row $i len")
      terms.zipWithIndex.foreach { case (t, j) =>
        assert(tfs(j) == ts.count(_ == t).toLong, s"row $i term $t")
      }
    }
  }

  test("sharded bloom: zero false negatives, per-shard routing is " +
       "disjoint, fp rate comparable to one filter of the same total bits") {
    import graft.operators.Bloom
    val (k, m, shards) = (4, 4096, 8)
    val n = 3000L
    val members = spark.range(n).select(
      conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
        .cast("long").as("h"))
    val bitmaps = Bloom.buildSharded(members, col("h"), k, m, shards)
    assert(bitmaps.length == shards)
    // no false negatives across every shard
    assert(members.filter(
      !Bloom.mightContainSharded(bitmaps, col("h"), k, m)).count() == 0)
    // routing is disjoint: a key's bits live ONLY in its own shard —
    // re-probing with the shard index forced elsewhere must not be
    // required for membership (the probe derives the shard from h alone)
    val perShard = members.groupBy(Bloom.shardOf(col("h"), shards).as("s"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perShard.size == shards, s"degenerate routing: $perShard")
    // fp rate ~ a single filter with shards·m bits at the same n
    val probes = 20000L
    val others = spark.range(n, n + probes).select(
      conv(substring(md5(concat(lit("y"), col("id"))), 1, 8), 16, 10)
        .cast("long").as("h"))
    val fp = others.filter(
      Bloom.mightContainSharded(bitmaps, col("h"), k, m)).count()
    // n/(shards·m) = 3000/32768 bits⁻¹ → fill ≈ 1−e^(−0.37) ≈ 0.31,
    // fpr ≈ 0.31⁴ ≈ 0.9%; assert a loose 3%
    assert(fp.toDouble / probes <= 0.03,
      s"sharded fp rate ${fp.toDouble / probes} above 3%")
  }

  test("pipe_curriculum's closed-form NTILE (the PRODUCTION expression " +
       "string) equals the spec definition for every (n, k, rank) in a " +
       "generated sweep") {
    // the spec: NTILE(k) over n rows gives the first (n mod k) buckets
    // ceil(n/k) rows and the rest floor(n/k); bucket of rank r is the
    // smallest b whose cumulative size reaches r
    def reference(n: Long, k: Long, r: Long): Long = {
      val big = n % k; val bigSz = n / k + 1; val smallSz = n / k
      var b = 1L; var cum = 0L
      while ({ cum += (if (b <= big) bigSz else smallSz); cum < r }) b += 1
      b
    }
    val gen = for {
      n <- Gen.choose(1L, 400L)
      k <- Gen.choose(1L, 9L)
      r <- Gen.choose(1L, n)
    } yield (n, k, r)
    // deterministic exhaustive corner sweep + random interior
    val corners = for (n <- 1L to 25L; k <- 1L to 6L; r <- 1L to n)
      yield (n, k, r)
    val cases = (corners ++ Gen.listOfN(500, gen).sample.getOrElse(Nil))
    // evaluate the SAME expression string pipe_curriculum ships
    // (TextQueries.ntileSql), batched per k into single Spark jobs
    cases.groupBy(_._2).foreach { case (k, rows) =>
      val got = rows.map { case (n, _, r) => (n, r) }
        .toDF("n", "rnk")
        .withColumn("phase", expr(TextQueries.ntileSql(k.toInt)))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      rows.foreach { case (n, _, r) =>
        assert(got((n, r)) == reference(n, k, r),
          s"NTILE mismatch at n=$n k=$k r=$r")
      }
    }
  }

  test("interval bucketing (q_range_join) never misses a match: for any " +
       "value in [lo, hi), floor(value/W) lies in the expanded bucket " +
       "range [floor(lo/W), floor(hi/W)]") {
    val gen = for {
      lo <- Gen.choose(0.0, 1000.0)
      span <- Gen.choose(1e-6, 200.0)
      frac <- Gen.choose(0.0, 1.0)
      w <- Gen.oneOf(1L, 7L, 50L, 128L)
    } yield (lo, lo + span, lo + span * frac, w)
    Gen.listOfN(2000, gen).sample.getOrElse(Nil).foreach {
      case (lo, hi, v0, w) =>
        // clamp v strictly below hi (frac can generate exactly 1.0)
        val v = if (v0 >= hi) math.nextDown(hi) else v0
        if (v >= lo && v < hi) {
          val b = math.floor(v / w).toLong
          assert(b >= math.floor(lo / w).toLong &&
                 b <= math.floor(hi / w).toLong,
            s"bucket $b outside expansion for v=$v lo=$lo hi=$hi W=$w — " +
              "an ε-narrowed upper bucket would drop this match")
        }
    }
  }

  test("LSH geometry auto-sizing: gate-SF floor rung, bounded occupancy, " +
       "recall held, monotone growth") {
    import graft.operators.Ann
    // 1. the floor rung covers every gate-SF corpus size (±far more than
    //    the KMV ±3%): auto geometry RESOLVES to the pinned (6, 6) there,
    //    so the oracle-gated queries are row-unchanged
    Seq(0.0, 100.0, 500.0, 2000.0, 2060.0, 4000.0).foreach { n =>
      assert(Ann.lshGeometryFor(n) == (6, 6),
        s"n̂=$n left the (6,6) floor rung — gate queries would change")
    }
    // 2. above the rung: occupancy bound + recall identity + monotone
    val p1 = 1.0 - math.acos(0.9) / math.Pi
    var prevP = 0
    Seq(5000.0, 20000.0, 50000.0, 200000.0, 500000.0, 5000000.0).foreach {
      n =>
        val (b, p) = Ann.lshGeometryFor(n)
        assert(math.pow(2.0, p) * 64.0 >= n || p == 24,
          s"occupancy bound violated at n̂=$n: p=$p")
        assert(p >= prevP, s"planes not monotone at n̂=$n"); prevP = p
        val recall = 1.0 - math.pow(1.0 - math.pow(p1, p), b)
        assert(recall >= 0.75 - 1e-9,
          f"recall $recall%.3f < 0.75 at n̂=$n (b=$b, p=$p)")
    }
    // 3. the §8.5b hand-tuned 500k remedy (12 bands × 14 planes) is
    //    reproduced in shape by the formula: log-grown planes, 10+ bands
    val (b500k, p500k) = Ann.lshGeometryFor(500000.0)
    assert(p500k >= 12 && b500k >= 9,
      s"500k geometry ($b500k, $p500k) weaker than the measured remedy")

    // simhash super-bucket cap: floor above organic clusters at gate SFs
    // (measured max bucket 269 at sf0.1), ∝ n̂ above it, monotone
    assert(graft.operators.Dedup.autoMaxBucket(5150.0) == 1024)
    assert(graft.operators.Dedup.autoMaxBucket(500000.0) == 1024)
    assert(graft.operators.Dedup.autoMaxBucket(5000000.0) ==
      math.ceil(5000000.0 / 32768 * 32).toInt)
    assert(graft.operators.Dedup.autoMaxBucket(1e8) >
      graft.operators.Dedup.autoMaxBucket(1e7))
  }

  test("SemDeDup cluster count: k=8 floor rung at gate SFs, cluster size " +
       "bounded above it, monotone") {
    import graft.operators.Ann
    // 1. floor rung covers every gate-SF corpus (embeddings 2000 @ sf0.1,
    //    KMV ±3% → ≤ 2060; rung extends to 4096 = 8 · 512): the trained k
    //    resolves to the 8 the static kmeansSql(8, 2) oracle replays
    Seq(0.0, 20.0, 200.0, 2000.0, 2060.0, 4096.0).foreach { n =>
      assert(Ann.semanticClusterCount(n) == 8,
        s"n̂=$n left the k=8 floor rung — dedup_semantic's oracle would " +
          "replay the wrong training")
    }
    // 2. above the rung: expected cluster size bounded by the target →
    //    within-cluster pair work ∝ n · target, the dedup_embed linear
    //    class (the §8.5b fixed-k DNF closed)
    var prevK = 0
    Seq(5000.0, 20000.0, 200000.0, 2000000.0, 2e7).foreach { n =>
      val k = Ann.semanticClusterCount(n)
      assert(n / k <= 512.0 + 1e-9,
        s"expected cluster size ${n / k} exceeds the 512 target at n̂=$n")
      assert(k >= prevK, s"k not monotone at n̂=$n"); prevK = k
    }
    // the probe's 100× corpus (≈ 200k vectors) trains ~391 clusters
    assert(Ann.semanticClusterCount(200000.0) == 391)
  }

  test("drift quantile: the driver-side bucket-upper twin is bit-equal " +
       "to Hdr.upper, and quantileUpper answers within the HDR error " +
       "bound and never under-reports") {
    import org.apache.spark.sql.functions._
    import graft.operators.Hdr
    import graft.sources.Drift
    import spark.implicits._
    // twin pin: Drift's private upperOf (reached through quantileUpper
    // on single-bucket sketches) == the Catalyst Hdr.upper on a sweep
    // of magnitudes incl. the exact-region boundary and the top bucket
    val vals = Seq(0L, 1L, 127L, 128L, 129L, 1000L, 123456L,
      987654321L, Long.MaxValue / 3, Long.MaxValue)
    val buckets = vals.toDF("v")
      .select(Hdr.bucket(col("v")).as("bucket")).as[Long].collect()
    val uppers = buckets.toSeq.toDF("bucket")
      .select(Hdr.upper(col("bucket")).cast("long")).as[Long].collect()
    buckets.zip(uppers).foreach { case (b, u) =>
      val single = Seq((b, 1L)).toDF("bucket", "cnt")
      assert(Drift.quantileUpper(single, 0.5) == u,
        s"driver upperOf($b) drifted from Hdr.upper")
    }
    // quantile walk: on values 1..1000 (exact region is < 128; above it
    // relative error <= 2^-7) the p-quantile answer bounds the true
    // order statistic from ABOVE and within 1%
    val data = (1L to 1000L).toDF("v")
    val sketch = data.select(Hdr.bucket(col("v")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    for (q <- Seq(0.1, 0.5, 0.9, 0.99, 1.0)) {
      val est = Drift.quantileUpper(sketch, q)
      val truth = math.max(1L, math.ceil(q * 1000).toLong)
      assert(est >= truth, s"q=$q under-reported: $est < $truth")
      assert(est <= math.ceil(truth * (1 + 1.0 / 128)).toLong + 1,
        s"q=$q above the HDR error bound: $est vs $truth")
    }
  }

  test("positional phrase serving == a naive substring-of-token-stream " +
       "model on random small-vocabulary corpora (repeats, short docs, " +
       "absent terms)") {
    // tiny vocabulary forces repeated tokens, overlapping occurrences
    // and same-term phrases — the edge cases of the shifted-position
    // intersection
    val vocab = Vector("a", "b", "c")
    val docGen = Gen.listOfN(
      8, Gen.chooseNum(0, 5).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(vocab))))
    val phraseGen = Gen.chooseNum(1, 3)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab :+ "zz")))
    val corpora = Gen.listOfN(6, docGen).sample.get
    val phrases = Gen.listOfN(8, phraseGen).sample.get
    corpora.zipWithIndex.foreach { case (docs, ci) =>
      val df = docs.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val dir = SparkSpec.tempDir(s"graft-proplex$ci").resolve("x").toString
      graft.sources.LexIndex.buildFrom(df, "doc_id", "text", dir)
      phrases.foreach { ph =>
        val served = graft.sources.LexIndex
          .phraseMatches(spark, dir, ph)
          .collect().map(_.getLong(0)).toSet
        val model = docs.zipWithIndex.collect {
          case (ts, i) if ts.indices.exists(p =>
            p + ph.length <= ts.length &&
              ts.slice(p, p + ph.length) == ph) => i.toLong
        }.toSet
        assert(served == model,
          s"corpus $ci phrase ${ph.mkString(" ")}: $served vs $model " +
            s"over ${docs.map(_.mkString(" "))}")
      }
    }
  }
}
