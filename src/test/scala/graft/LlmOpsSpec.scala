package graft

import org.apache.spark.sql.functions._

import graft.operators.{EmbedOps, TextOps}

/** Library-level tests for the LLM-pipeline operators whose driver queries
  * only cover part of the surface. */
class LlmOpsSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sfDir).select("doc_id", "text")
  private def emb = Tables.embeddings(spark, sfDir)

  test("kmeansAssign equals a driver-side Lloyd reference (ties, empty clusters)") {
    // small 2-D corpus: two obvious groups + a midpoint whose distances to
    // the round-2 centroids exercise the lower-cluster-id tie-break rule,
    // and k=3 with a seed that goes empty after round 1 (keeps centroid)
    val pts = Seq(
      0L -> Array(0.0, 0.0), 1L -> Array(0.5, 0.0), 2L -> Array(0.25, 0.5),
      3L -> Array(10.0, 0.0), 4L -> Array(10.5, 0.0), 5L -> Array(10.25, 0.5),
      6L -> Array(5.25, 0.25))
    val k = 3; val iters = 3; val dim = 2
    // reference: the exact rules kmeansAssign documents
    var cents = pts.sortBy(_._1).take(k).map(_._2.clone()).toArray
    def cellOf(v: Array[Double]): Int =
      cents.zipWithIndex.map { case (c, i) =>
        (v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.minBy(identity)._2
    for (_ <- 0 until iters) {
      val groups = pts.groupBy { case (_, v) => cellOf(v) }
      cents = cents.zipWithIndex.map { case (c, i) =>
        groups.get(i) match {
          case Some(g) => Array.tabulate(dim)(d => g.map(_._2(d)).sum / g.size)
          case None => c
        }
      }
    }
    val expected = pts.map { case (id, v) => id -> cellOf(v) }.toMap
    import spark.implicits._
    val df = pts.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    val got = EmbedOps.kmeansAssign(df, k = k, dim = dim, iters = iters)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == expected)
    // the two groups actually separate and the seed-2 cluster is non-trivial
    assert(expected.values.toSet.size >= 2)
  }

  test("simhash near-dups: exact copies collide at hamming 0") {
    val corpus = docs.limit(50).unionByName(
      docs.limit(50).select((col("doc_id") + 1000).as("doc_id"), col("text")))
    val pairs = TextOps.simhashNearDups(TextOps.simhash(corpus), maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = docs.limit(50).select("doc_id").collect()
      .map(_.getLong(0)).map(id => (id, id + 1000)).toSet
    assert(expected.subsetOf(pairs))
  }

  test("hyperplane LSH: identical vectors land in the same bucket; bucketed join finds them") {
    val corpus = emb.unionByName(
      emb.limit(20).select((col("vec_id") + 1000).as("vec_id"),
        col("embedding"), col("label")))
    val pairs = EmbedOps.bucketedTopK(corpus, planes = 8, dim = 64, minCos = 0.999999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = emb.limit(20).select("vec_id").collect()
      .map(_.getLong(0)).map(id => (id, id + 1000)).toSet
    assert(expected.subsetOf(pairs))
  }

  test("semDedup: exact copies are dropped, verdicts are consistent with the pair set") {
    // Append exact copies of 20 vectors under larger ids: every copy MUST
    // be dropped (cos 1.0 to its original, same bucket), every original
    // with no τ-neighbor must be kept.
    val corpus = emb.unionByName(
      emb.limit(20).select((col("vec_id") + 1000).as("vec_id"),
        col("embedding"), col("label")))
    val v = EmbedOps.semDedup(corpus, planes = 8, dim = 64, tau = 0.35)
      .collect().map(r => r.getLong(0) -> (r.isNullAt(2), r.getBoolean(3))).toMap
    val copies = emb.limit(20).select("vec_id").collect().map(_.getLong(0) + 1000)
    copies.foreach(id => assert(!v(id)._2, s"copy $id must be dropped"))
    // verdict ⇔ pair-set consistency: dropped ⇔ has a smaller-id τ-pair
    val dropped = EmbedOps.bucketedTopK(corpus, planes = 8, dim = 64,
      minCos = 0.35).select("idb").collect().map(_.getLong(0)).toSet
    v.foreach { case (id, (_, keep)) =>
      assert(keep == !dropped(id), s"verdict for $id disagrees with pairs") }
    // isolated vectors report NULL max_prior_cos and keep = true
    v.collect { case (id, (true, keep)) => assert(keep, s"$id null-cos but dropped") }
  }

  test("minhash near-dup join is symmetric-free and thresholds correctly") {
    val corpus = docs.limit(100).unionByName(
      docs.limit(100).filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("replace(text, 'table', 'tbl')").as("text")))
    val out = TextOps.minhashNearDups(corpus, threshold = 0.5).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(3) >= 0.5 && r.getDouble(3) <= 1.0)
    }
  }

  test("salted join and salted aggregation equal their unsalted twins") {
    import graft.operators.Skew
    val orders = Tables.orders(spark, sfDir).select("o_custkey", "o_orderkey", "o_totalprice")
    val cust = Tables.customer(spark, sfDir).select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(cust, "o_custkey").count()
    val salted = Skew.saltedJoin(orders, cust, "o_custkey", salts = 7).count()
    assert(plain == salted)

    val plainAgg = orders.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("sum_o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val saltedAgg = Skew.saltedCountSum(orders, "o_custkey", "o_totalprice", salts = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(plainAgg == saltedAgg)
  }

  test("GraftExtensions injects the function family without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    val names = graft.functions.GraftExtensions.injected.map(_._1)
    assert(names.size >= 63 && names.distinct.size == names.size)
    // a fresh session carrying only the extensions (no register() call)
    // resolves every SQL name, and the SQL forms equal the Column DSL
    val s = spark.newSession()
    names.foreach(n => assert(s.catalog.functionExists(n), s"$n not injected"))
    import graft.functions.GraftFunctions._
    val ds = graft.raquet.RaquetIO.read(s, "src/test/resources/raquet/gradient16.parquet")
    ds.data.createOrReplaceTempView("rq_ext_only")
    val mj = graft.raquet.RaquetMetadata.toJson(ds.meta)
    val wkt = graft.operators.RaquetQueries.FastRegionWkt
    val viaSql = s.sql(
      s"""SELECT block,
            rq_clip(band_2, block, '$mj', 'band_2', '$wkt') AS c,
            rq_band_math(band_2, band_1, '$mj', 'band_2', 'band_1', 'sub') AS m,
            rq_normalized_difference(band_2, band_1, '$mj', 'band_2', 'band_1') AS d
          FROM rq_ext_only""")
    val viaDsl = ds.data.select(col("block"),
      rq_clip(col("band_2"), col("block"), ds.meta, "band_2", wkt).as("c"),
      rq_band_math(col("band_2"), col("band_1"), ds.meta, "band_2", "band_1", "sub").as("m"),
      rq_normalized_difference(col("band_2"), col("band_1"), ds.meta,
        "band_2", "band_1").as("d"))
    // string form: NaN pixels compare equal, byte arrays compare by content
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }.toString).sorted.toSeq
    val got = rows(viaSql)
    assert(got.size == 85 && got == rows(viaDsl))
  }

  test("cosine is padding-invariant: extra components beyond dim affect neither numerator nor denominator") {
    import spark.implicits._
    val base = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), "a"),
      (2L, Array(0.6f, 0.8f, 0.0f, 0.0f), "b"),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), "c"))
      .toDF("vec_id", "embedding", "label")
    // pad corpus vectors with junk past dim=4: norm2 must slice like dot,
    // or cosine deflates and the ranking flips (the r11 ADVICE defect)
    val padded = base.select(col("vec_id"),
      expr("concat(embedding, array(CAST(9.0 AS FLOAT), CAST(-9.0 AS FLOAT)))")
        .as("embedding"), col("label"))
    val q = Seq((10L, Array(1.0f, 0.0f, 0.0f, 0.0f), "q"))
      .toDF("vec_id", "embedding", "label")
    def ranks(c: org.apache.spark.sql.DataFrame) =
      graft.operators.EmbedOps.cosineTopK(q, c, k = 3, dim = 4)
        .select("rank", "vec_id", "cos").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(ranks(padded) == ranks(base))
    assert(ranks(base).head._3 == 1.0) // identical vector scores exactly 1
  }

  test("IVF: full probe equals brute force; partial probe keeps high recall; no cross join") {
    val cb = graft.operators.EmbedOps.ivfTrain(emb, nlist = 16, dim = 64)
    assert(cb.nlist == 16 && cb.dim == 64)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = graft.operators.EmbedOps.cosineTopK(queries, emb, k = 10, dim = 64)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.operators.EmbedOps.ivfTopK(queries, emb, cb, k = 10, dim = 64,
      nprobe = 16)
    assert(full.select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == exact)
    // partial probe: candidate generation is an equi-join on cell, and the
    // per-query recall stays useful at nprobe = nlist/4
    val part = graft.operators.EmbedOps.ivfTopK(queries, emb, cb, k = 10, dim = 64,
      nprobe = 4)
    val got = part.select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@nprobe=4 too low: $recall")
    val plan = part.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "IVF probe must be an equi-join")
    assert(plan.contains("BroadcastHashJoin"), "probe side should broadcast")
  }

  test("connected components equal a union-find ground truth") {
    import spark.implicits._
    // path (multi-round propagation), triangle+tail, isolated edge, star —
    // all in one edge list
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),            // path, diameter 4
      (10L, 11L), (11L, 12L), (12L, 10L), (12L, 13L),    // triangle + tail
      (20L, 21L),                                         // single edge
      (30L, 31L), (30L, 32L), (30L, 33L))                 // star
      .toDF("a", "b")
    val got = graft.operators.Graph.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.collect().foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    assert(got == expected)
    assert(got(5L) == 1L && got(13L) == 10L && got(21L) == 20L && got(33L) == 30L)
  }

  test("connected components: shuffle loop ≡ two-level union-find (long path + empty input)") {
    import spark.implicits._
    // a 64-node path (multi-round pointer jumping in loop mode) + a
    // clique + isolated edges; run once per strategy — the edge-count
    // threshold (graft.cc.localMaxEdges) picks union-find below, the
    // iterative shuffle loop above
    val edges = ((1L to 63L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (100L, 102L), (101L, 102L), (200L, 201L)))
      .toDF("a", "b")
    def run(): Map[Long, Long] =
      graft.operators.Graph.connectedComponents(edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uf = run()
    spark.conf.set("graft.cc.localMaxEdges", "0")
    val shuffled = try run()
    finally spark.conf.unset("graft.cc.localMaxEdges")
    assert(uf == shuffled)
    assert(uf(64L) == 1L && uf(102L) == 100L && uf(201L) == 200L)
    // empty edge list: converges immediately, returns an empty table
    val empty = graft.operators.Graph.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(empty.count() == 0L)
  }

  test("q107 micro-nat values keep a margin from rounding boundaries") {
    // The bigram-LM contract rounds -ln(p)*1e6 to an integer on BOTH
    // engines; a libm ulp difference at an exact half boundary would flip
    // the rounded value and fail the typed hash on a DuckDB build change.
    // Spread bound: |x| < 16 nats, so a ≤4-ulp cross-libm ln() difference
    // moves x by < 4 * ulp(16) * 1e6 ≈ 1e-8 micro-nats. Guard at 1e-6 —
    // 100x that bound, and well under the measured corpus margins
    // (2.3e-4 on sf0.001, 4.2e-5 on the driver gate corpus sf0.01).
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val d = Tables.documents(spark, sf).select("doc_id", "text")
      val toks = d.select(col("doc_id"), split(col("text"), " ").as("t"))
      val uni = toks.select(explode(col("t")).as("w"))
      val cw = uni.groupBy("w").agg(count(lit(1)).as("cw"))
      val v = uni.select(countDistinct(col("w"))).head.getLong(0)
      val occ = toks.filter(size(col("t")) >= 2)
        .withColumn("bs", expr(
          "transform(sequence(1, size(t)-1), i -> concat(t[i-1], ' ', t[i]))"))
        .select(explode(col("bs")).as("b"))
      // occurrence counts (lmScore's cb), evaluated once per distinct bigram
      val cb = occ.groupBy("b").agg(count(lit(1)).as("cb"))
      val margins = cb
        .withColumn("w1", expr("split_part(b, ' ', 1)"))
        .join(cw.withColumnRenamed("w", "w1"), "w1")
        .withColumn("x", -log((col("cb") + 1.0) / (col("cw") + v.toDouble)) * 1e6)
        .withColumn("margin", abs(col("x") - floor(col("x")) - 0.5))
        .agg(min("margin").as("m"), count(lit(1)).as("n")).head()
      assert(margins.getLong(1) > 0, s"$sf: no bigrams")
      assert(margins.getDouble(0) > 1e-6,
        s"$sf: a bigram micro-nat value is ${margins.getDouble(0)} from a rounding boundary")
    }
  }

  test("knScore: hand-computed interpolated KN on a tiny corpus; per-history mass sums to 1; rounding margins hold") {
    import spark.implicits._
    val tiny = Seq((1L, "a b a b c"), (2L, "b a b"), (3L, "c a"))
      .toDF("doc_id", "text")
    // bigram tokens: (a b)×3, (b a)×2, (b c), (c a) → B = 4 types
    // histories: c(a·)=3 n1f(a)=1 | c(b·)=3 n1f(b)=2 | c(c·)=1 n1f(c)=1
    // continuations: n1b(a)=2 {b,c} | n1b(b)=1 {a} | n1b(c)=1 {b}
    val got = TextOps.knScore(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val D = 0.75; val B = 4.0
    def p(cb: Long, cw1: Long, n1f: Long, n1b: Long): Double =
      math.max(cb - D, 0.0) / cw1 + D * n1f / cw1 * (n1b / B)
    def nm(pp: Double): Long = math.round(-math.log(pp) * 1e6)
    val pab = p(3, 3, 1, 1); val pba = p(2, 3, 2, 2)
    val pbc = p(1, 3, 2, 1); val pca = p(1, 1, 1, 2)
    assert(got(1L) == ((4L, 2 * nm(pab) + nm(pba) + nm(pbc))))
    assert(got(2L) == ((2L, nm(pba) + nm(pab))))
    assert(got(3L) == ((1L, nm(pca))))
    // the KN invariant: Σ_w2∈V p(w2|w1) = 1 — observed mass (discounted)
    // plus the continuation prior exactly reconstitute the distribution
    val massB = pba + pbc + D * 2 / 3.0 * (1 / B) // unobserved (b b)
    assert(math.abs(massB - 1.0) < 1e-12, s"history-b mass $massB")
    // micro-nat rounding margins on the real corpora (the q107 guard:
    // a cross-libm ln() ulp must not sit at a .5 rounding boundary)
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val d = Tables.documents(spark, sf).select("doc_id", "text")
      val bg = d.select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 2)
        .withColumn("bs", expr(
          "transform(sequence(1, size(t)-1), i -> concat(t[i-1], ' ', t[i]))"))
        .select(explode(col("bs")).as("b"))
        .withColumn("w1", expr("split_part(b, ' ', 1)"))
        .withColumn("w2", expr("split_part(b, ' ', 2)"))
      val btot = bg.select(countDistinct(col("b"))).head.getLong(0)
      val cb = bg.groupBy("b").agg(count(lit(1)).as("cb"))
      val hist = bg.groupBy("w1").agg(count(lit(1)).as("cw1"),
        countDistinct(col("w2")).as("n1f"))
      val cont = bg.groupBy("w2").agg(countDistinct(col("w1")).as("n1b"))
      val m = cb.withColumn("w1", expr("split_part(b, ' ', 1)"))
        .withColumn("w2", expr("split_part(b, ' ', 2)"))
        .join(hist, "w1").join(cont, "w2")
        .withColumn("x", -log(
          greatest(col("cb") - D, lit(0.0)) / col("cw1") +
            lit(D) * col("n1f") / col("cw1") *
            (col("n1b") / lit(btot.toDouble))) * 1e6)
        .withColumn("margin", abs(col("x") - floor(col("x")) - 0.5))
        .agg(min("margin").as("m"), count(lit(1)).as("n")).head()
      assert(m.getLong(1) > 0, s"$sf: no bigrams")
      assert(m.getDouble(0) > 1e-6,
        s"$sf: a KN micro-nat value is ${m.getDouble(0)} from a rounding boundary")
    }
  }

  test("sequence packing: capacity, coverage, and repartition invariance") {
    import graft.operators.Curation
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "n_chars")
    val packed = Curation.packSequences(d, "doc_id", "n_chars",
      budget = 4000L, buckets = 4).collect()
    // every document appears exactly once
    assert(packed.length == d.count())
    assert(packed.map(_.getString(0)).distinct.length == packed.length)
    // bin_fill within a (bucket, bin) is monotone and respects the budget
    // unless the bin holds a single oversized document
    val byBin = packed.groupBy(r => (r.getLong(2), r.getLong(3)))
    byBin.foreach { case ((bucket, bin), rows) =>
      val fin = rows.map(_.getLong(4)).max
      val total = rows.map(_.getLong(1)).sum
      assert(fin == total, s"bucket $bucket bin $bin fill mismatch")
      assert(total <= 4000 || rows.length == 1,
        s"bucket $bucket bin $bin over budget with ${rows.length} docs")
    }
    // determinism under arbitrary partitioning — the property a re-run on
    // a different cluster size needs
    val repacked = Curation.packSequences(d.repartition(13), "doc_id",
      "n_chars", budget = 4000L, buckets = 4).collect()
    assert(packed.map(r => (r.getString(0), r.getLong(2), r.getLong(3),
      r.getLong(4))).sortBy(_._1).toSeq ==
      repacked.map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toSeq)
  }

  test("text metrics are internally consistent") {
    val m = TextOps.textMetrics(docs.limit(20)).collect()
    m.foreach { r =>
      val nTokens = r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("n_distinct") <= nTokens)
      assert(r.getAs[Long]("n_stop") <= nTokens)
      assert(r.getAs[Double]("distinct_ratio") > 0.0)
    }
  }

  test("language ID: profile samples classify to their language, zero evidence is unk") {
    import spark.implicits._
    val rows = Seq(
      1L -> TextOps.langSamples("de"),
      2L -> TextOps.langSamples("fr"),
      3L -> TextOps.langSamples("es"),
      4L -> "the cat and the dog of the house is not walking",
      5L -> "zzz qqq xyzzy")
      .toDF("doc_id", "text")
    val got = TextOps.langId(rows).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    assert(got === Map(1L -> "de", 2L -> "fr", 3L -> "es", 4L -> "en", 5L -> "unk"))
    val scores = TextOps.langId(rows).filter($"doc_id" === 5L)
      .select("score").as[Long].head()
    assert(scores === 0L)
  }

  test("SQ8 codes are in range and quantized top-10 recalls exact top-10 well") {
    import graft.operators.EmbedOps
    val (mins, steps) = EmbedOps.sqTrain(emb, dim = 64)
    assert(mins.length === 64 && steps.forall(_ >= 0.0))
    val codes = EmbedOps.sqEncode(emb, mins, steps)
      .select(explode(col("code"))).as[Int](org.apache.spark.sql.Encoders.scalaInt)
      .collect()
    assert(codes.forall(c => c >= 0 && c <= 255))
    val q = emb.filter(col("vec_id") < 5)
    val sq = EmbedOps.sqTopK(q, emb, k = 10, dim = 64).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("vec_id")).toSet }
    // exact SAME-METRIC ground truth (unquantized squared L2), driver-side:
    // isolates pure quantization loss from any metric difference
    val all = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val recall = (0L until 5L).map { qid =>
      val qv = all.find(_._1 == qid).get._2
      val exact = all.sortBy { case (id, v) => (l2(qv, v), id) }
        .take(10).map(_._1).toSet
      (exact & sq(qid)).size
    }.sum / 50.0
    assert(recall >= 0.9, s"recall $recall")
  }

  test("PII redaction scrubs emails/IPs/phones and counts each class") {
    import spark.implicits._
    val rows = Seq(
      1L -> "write a.b+c@ex.org or x@y.io, dial 415-555-0133, host 10.0.42.7",
      2L -> "nothing sensitive here 1234-5678")
      .toDF("doc_id", "text")
    val out = TextOps.redactPii(rows).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("text") ===
      "write <EMAIL> or <EMAIL>, dial <PHONE>, host <IP>")
    assert(out(1L).getAs[Long]("n_email") === 2L)
    assert(out(1L).getAs[Long]("n_ip") === 1L)
    assert(out(1L).getAs[Long]("n_phone") === 1L)
    assert(out(2L).getAs[String]("text") === "nothing sensitive here 1234-5678")
    assert(out(2L).getAs[Long]("n_email") + out(2L).getAs[Long]("n_ip") +
      out(2L).getAs[Long]("n_phone") === 0L)
  }

  test("DSIR: target-like docs score above off-target docs; sums are exact integers") {
    import spark.implicits._
    val docs = (
      (0L until 20L).map(i => i -> "good clean prose words here") ++
      (20L until 40L).map(i => i -> "spam spam buy now click spam")).toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") < 20L) // the quality proxy
    val out = TextOps.dsirScore(docs, target, numBuckets = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // every target-distribution doc outranks every off-target doc
    val tgtMin = (0L until 20L).map(out).min
    val offMax = (20L until 40L).map(out).max
    assert(tgtMin > offMax, s"tgtMin=$tgtMin offMax=$offMax")
    // identical docs get identical integer scores (order-free exact sums)
    assert((0L until 20L).map(out).toSet.size == 1)
  }

  test("signProject: one-hot inputs read the sign matrix directly; equal vectors project equally") {
    import spark.implicits._
    // one-hot at dim i scaled so round(x*64) = 64: p(j) = 64 * sign(i, j)
    val oneHot = (i: Int) => Array.tabulate(64)(d => if (d == i) 1.0f else 0.0f)
    val vecs = Seq((1L, oneHot(0)), (2L, oneHot(7)), (3L, oneHot(0)))
      .toDF("vec_id", "embedding")
    val out = operators.EmbedOps.signProject(vecs, dim = 64, outDim = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out.size == 3 * 16)
    // every coordinate is exactly ±64 (the quantized one-hot times ±1)
    assert(out.values.forall(p => p == 64L || p == -64L))
    // identical inputs project identically; different one-hots differ somewhere
    assert((0 until 16).forall(j => out((1L, j)) == out((3L, j))))
    assert((0 until 16).exists(j => out((1L, j)) != out((2L, j))))
  }

  test("signProject compiles without codegen fallback and equals exact integer sums") {
    import spark.implicits._
    val rnd = new java.util.Random(11)
    val embs = (0 until 40).map(_ => Array.fill(64)(rnd.nextFloat() * 4 - 2))
    val vecs = embs.zipWithIndex.map { case (e, i) => (i.toLong, e) }.toDF("vec_id", "embedding")
    val key = "spark.sql.codegen.fallback"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    val out = try operators.EmbedOps.signProject(vecs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    finally spark.conf.set(key, before)
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Long = {
      val hex = md.digest(s"${i}_$j".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 1) 1L else -1L
    }
    assert(out.size == 40 * 16)
    for ((e, v) <- embs.zipWithIndex; j <- 0 until 16) {
      val q = e.map(x => java.math.BigDecimal.valueOf(x.toDouble * 64)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact)
      assert(out((v.toLong, j)) == q.indices.map(i => q(i) * sign(i, j)).sum, s"vec $v j $j")
    }
  }

  test("pageRank: uniform cycle stays uniform; star center outranks leaves") {
    import spark.implicits._
    // 4-cycle: every node has outdeg 1 and indeg 1 -> rank stays at the
    // fixpoint base + 0.85*scale form, identical for all nodes
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val rc = operators.Graph.pageRank(cycle, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rc.values.toSet.size == 1 && rc.size == 4)
    // star: leaves 1..4 all point at 0; 0 points at 1
    val star = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L)).toDF("src", "dst")
    val rs = operators.Graph.pageRank(star, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rs(0L) > rs(2L) && rs(1L) > rs(2L)) // center and its target beat plain leaves
    assert(rs(2L) == rs(3L) && rs(3L) == rs(4L))
  }

  test("qualityClassifier: separable corpora classify correctly after 2 integer-GD rounds") {
    import spark.implicits._
    val docs = (
      (0L until 20L).map(i => i -> "good clean prose words here") ++
      (20L until 40L).map(i => i -> "spam spam buy now click spam")).toDF("doc_id", "text")
    val out = TextOps.qualityClassifier(docs, target = col("doc_id") < 20L,
      numBuckets = 64, iters = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // all positives above all negatives; identical docs score identically
    val posMin = (0L until 20L).map(out(_)._1).min
    val negMax = (20L until 40L).map(out(_)._1).max
    assert(posMin > negMax, s"posMin=$posMin negMax=$negMax")
    assert((0L until 20L).forall(out(_)._3) && (20L until 40L).forall(!out(_)._3))
    assert((0L until 20L).map(out).toSet.size == 1)
    // p stays in [0, 1e6] micros
    assert(out.values.forall(v => v._2 >= 0L && v._2 <= 1000000L))
  }

  test("covarianceMatrix: fused accumulator equals the explode-plan replica " +
      "on nulls, short arrays and empty corpora; partition-merge invariant") {
    import spark.implicits._
    // the plan covarianceMatrix replaced, replayed inline: its output is
    // the fused aggregate's correctness contract (incl. null semantics)
    def replica(vecs: org.apache.spark.sql.DataFrame, dim: Int) = {
      val q = vecs.select(expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 64) AS LONG))")
        .as("e"))
      val pairs = q.select(expr(
        s"""explode(flatten(transform(sequence(0, ${dim - 1}), i ->
              transform(sequence(i, ${dim - 1}), j ->
                named_struct('i', i, 'j', j, 'p', e[i] * e[j]))))) AS t"""))
        .select(col("t.i").as("i"), col("t.j").as("j"), col("t.p").as("p"))
        .groupBy("i", "j")
        .agg(count(lit(1)).as("n"), sum("p").as("sum_ij"))
      val marg = q.select(posexplode(col("e")).as(Seq("d", "qd")))
        .groupBy("d").agg(sum("qd").as("s"))
      pairs
        .join(broadcast(marg.select(col("d").as("i"), col("s").as("sum_i"))), "i")
        .join(broadcast(marg.select(col("d").as("j"), col("s").as("sum_j"))), "j")
        .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
          col("n"), col("sum_ij"), col("sum_i"), col("sum_j"),
          (col("n") * col("sum_ij") - col("sum_i") * col("sum_j")).as("cov_num"))
    }
    def key(r: org.apache.spark.sql.Row) = (r.getInt(0), r.getInt(1))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => key(r) -> r.toSeq.drop(2)).toMap
    // adversarial corpus: a null embedding and a null element, plus regular
    // vectors — the old plan's null semantics (arrays SHORTER than dim were
    // out-of-contract for it too: ANSI e[i] throws on an invalid index)
    val adversarial = Seq(
      (1L, Array[java.lang.Float](1.0f, 0.5f, 2.0f)),
      (2L, Array[java.lang.Float](0.0f, null, 1.0f)),
      (3L, Array[java.lang.Float](3.0f, 1.0f, 0.0f)),
      (4L, null)).toDF("vec_id", "embedding")
    val got = canon(operators.EmbedOps.covarianceMatrix(adversarial, dim = 3))
    val want = canon(replica(adversarial, 3))
    assert(got == want, s"$got vs $want")
    // fused superset contract: indices past a short array are simply absent
    // (never thrown) — dim=5 over 3-long arrays equals the dim=3 result
    assert(canon(operators.EmbedOps.covarianceMatrix(adversarial, dim = 5))
      == got)
    // empty corpus → empty result (the old plan's empty-group behavior)
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(operators.EmbedOps.covarianceMatrix(empty, dim = 4).count() == 0L)
    // partial-merge invariance: 1 vs 7 partitions, bit-identical
    val wide = (0 until 50).map(n =>
      (n.toLong, Array.tabulate(8)(i => ((n * 31 + i * 7) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val one = canon(operators.EmbedOps.covarianceMatrix(
      wide.coalesce(1), dim = 8))
    val many = canon(operators.EmbedOps.covarianceMatrix(
      wide.repartition(7), dim = 8))
    assert(one == many)
    assert(one == canon(replica(wide, 8)))
  }

  test("covarianceMatrix: hand-computed integer numerators on a 2-vector corpus") {
    import spark.implicits._
    val vecs = Seq((1L, Array(1.0f, 0.5f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = operators.EmbedOps.covarianceMatrix(vecs, dim = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(6))).toMap
    // q = [64, 32], [0, 64]; n=2
    assert(got((0, 0)) == ((2L, 4096L, 4096L)))   // 2*4096 - 64^2
    assert(got((0, 1)) == ((2L, 2048L, -2048L)))  // 2*2048 - 64*96
    assert(got((1, 1)) == ((2L, 5120L, 1024L)))   // 2*5120 - 96^2
    assert(got.size == 3) // upper triangle only
  }

  test("pcaPowerIteration: recovers a planted dominant axis") {
    import spark.implicits._
    // variance planted on dim 5 (values ±1), tiny noise on dim 20
    val vecs = (0 until 40).map { n =>
      val a = new Array[Float](64)
      a(5) = if (n % 2 == 0) 1.0f else -1.0f
      a(20) = if (n % 4 < 2) 0.1f else -0.1f
      (n.toLong, a)
    }.toDF("vec_id", "embedding")
    val v = operators.EmbedOps.pcaPowerIteration(vecs, dim = 64, iters = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(v.size == 64)
    val dominant = v.maxBy { case (_, x) => math.abs(x) }._1
    assert(dominant == 5, s"dominant=$dominant v5=${v(5)} v20=${v(20)}")
    assert(math.abs(v(5)) > 10 * math.abs(v(20)))
  }

  test("powerIterationOn: exact past the old int64 matvec bound (decimal accumulate)") {
    import spark.implicits._
    val dim = 8
    // entries ~2^56: dim·|cov|·2^12 ≈ 2^71 — the previous all-long matvec
    // wrapped here (its bound was n ≲ 9·10^4 vectors ⇔ |cov| ≲ 2^45); the
    // decimal path must match an overflow-free BigInt replay exactly
    def c(i: Int, j: Int): Long = {
      val base = (1L << 59) / 8
      val sign = if ((i * 31 + j * 17) % 3 == 0) -1 else 1
      sign * (base + i * 1000003L + j * 7919L)
    }
    val cov = (for (i <- 0 until dim; j <- i until dim) yield (i, j, c(i, j)))
      .toDF("i", "j", "cov_num")
    val got = operators.EmbedOps.powerIterationOn(cov, dim, iters = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val full = Array.tabulate(dim, dim)((i, j) =>
      BigInt(if (i <= j) c(i, j) else c(j, i)))
    var v = Array.fill(dim)(BigInt(1))
    for (_ <- 1 to 3) {
      val u = Array.tabulate(dim)(d =>
        (0 until dim).map(j => full(d)(j) * v(j)).sum)
      val s = BigInt(1).max(u.map(_.abs).max / 4096)
      v = u.map(x => x.signum * (x.abs / s))
    }
    (0 until dim).foreach(d => assert(BigInt(got(d)) == v(d),
      s"d=$d got=${got(d)} want=${v(d)}"))
    // sanity: the magnitudes really exceeded the old headroom mid-iteration
    assert(full(0).map(_.abs).max * 4096 > BigInt(Long.MaxValue))
  }

  test("removeTopComponent: residuals are EXACTLY orthogonal to the removed direction") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 30L).map { n =>
      val a = Array.tabulate(64)(d => (rnd.nextFloat() - 0.5f) * 0.4f)
      a(3) = if (n % 2 == 0) 0.9f else -0.9f // dominant axis
      (n, a)
    }.toDF("vec_id", "embedding")
    val v = operators.EmbedOps.pcaPowerIteration(vecs, 64, 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val res = operators.EmbedOps.removeTopComponent(vecs, 64, 3).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.map(r => r.getInt(1) -> r.getLong(2)).toMap }
    // Σ_d r_d · v_d = 0 exactly, for every vector (integer identity)
    res.foreach { case (id, rd) =>
      val dot = (0 until 64).map(d => rd(d) * v(d)).sum
      assert(dot == 0L, s"vec $id residual·v = $dot")
    }
    // the dominant dim's residual collapses relative to its input scale
    assert(res.values.forall(rd => math.abs(rd(3)) <
      (0 until 64).map(d => math.abs(rd(d))).max * 2))
  }

  test("CMS: never underestimates, and sharded sketches merge by bucket sum") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docs = (0L until 200L).map(i =>
      i -> Seq.fill(1 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" "))
      .toDF("doc_id", "text")
    val est = TextOps.cmsTopkEstimates(docs, k = 7, depth = 4, width = 64)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(est.length == 7)
    est.foreach { case (t, (n, e, over)) =>
      assert(over && e >= n, s"$t est=$e true=$n") }
    // mergeability: sketch(all) == per-shard sketches summed by (j, bucket)
    val whole = TextOps.cmsSketch(docs, 4, 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val shards = Seq(docs.filter(col("doc_id") < 100), docs.filter(col("doc_id") >= 100))
      .map(TextOps.cmsSketch(_, 4, 64)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap)
    val merged = (shards(0).keySet ++ shards(1).keySet).map(k =>
      k -> (shards(0).getOrElse(k, 0L) + shards(1).getOrElse(k, 0L))).toMap
    assert(merged == whole)
  }

  test("urlCanonSql is idempotent: canonicalizing a canonical URL is identity") {
    import spark.implicits._
    val raw = Seq(
      "HTTP://A5.COM:80/x/y?z=1&utm_x=9#f", "https://b.org/p?b=2&a=1",
      "http://c.net/solo", "https://D.com:8443/q?x=%20y&a=3#frag")
      .toDF("url")
    val once = raw.select(expr(TextOps.urlCanonSql("url")).as("url"))
    val twice = once.select(expr(TextOps.urlCanonSql("url")).as("url"))
    assert(once.collect().map(_.getString(0)).toSeq ==
      twice.collect().map(_.getString(0)).toSeq)
  }

  test("urlCanonSql strips only the scheme's DEFAULT port") {
    import spark.implicits._
    val got = Seq(
      "http://h.com:80/x",   // default for http → stripped
      "https://h.com:80/x",  // NON-default for https → kept (distinct resource)
      "https://h.com:443/x", // default for https → stripped
      "http://h.com:443/x",  // NON-default for http → kept
      "ftp://h.com:80/x")    // unknown scheme → ports never stripped
      .toDF("url").select(expr(TextOps.urlCanonSql("url")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "http://h.com/x", "https://h.com:80/x", "https://h.com/x",
      "http://h.com:443/x", "ftp://h.com:80/x"), got.toString)
  }

  test("plan audit: signProject/bpeTokenize are shuffle-free projections; covariance is one partial agg") {
    import spark.implicits._
    val vecs = Seq((1L, Array.fill(64)(0.1f))).toDF("vec_id", "embedding")
    val projPlan = operators.EmbedOps.signProject(vecs, 64, 16)
      .queryExecution.executedPlan.toString
    assert(!projPlan.contains("Exchange"), s"signProject shuffles:\n$projPlan")
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val bpePlan = TextOps.bpeTokenize(docs)
      .queryExecution.executedPlan.toString
    // the ONE deliberate round-robin spread of an under-split input
    // (Tables.spreadForCpu) is allowed; any other exchange (a join or
    // aggregate shuffle) would mean the merge loop stopped being a
    // projection
    assert(bpePlan.sliding("Exchange".length).count(_ == "Exchange") ==
      bpePlan.sliding("RoundRobinPartitioning".length)
        .count(_ == "RoundRobinPartitioning"),
      s"bpeTokenize has a non-spread shuffle:\n$bpePlan")
    // covariance: the pair explode must sit UNDER a partial aggregate in
    // the scan stage (map-side combine), with exactly one shuffle for the
    // final agg plus the two broadcast marginal joins
    val covPlan = operators.EmbedOps.covarianceMatrix(vecs, 64)
      .queryExecution.executedPlan.toString
    assert(covPlan.contains("partial_count") || covPlan.contains("HashAggregate"),
      s"covariance lost its partial agg:\n$covPlan")
    assert(!covPlan.contains("CartesianProduct"),
      s"covariance has a cartesian:\n$covPlan")
    val urlPlan = Seq(Tuple1("http://a.com/x")).toDF("url")
      .select(expr(TextOps.urlCanonSql("url")))
      .queryExecution.executedPlan.toString
    // (a tiny local relation collapses the Project into the scan itself —
    // the absence of any Exchange is the property that matters)
    assert(!urlPlan.contains("Exchange"),
      s"urlCanon is not shuffle-free:\n$urlPlan")
  }

  test("editVerifiedNearDups: planted near-dups pass the gate at their exact distance") {
    import spark.implicits._
    // long docs so a single-word edit keeps shingle-Jaccard high enough
    // for the banded LSH to emit the candidate (deterministic: fixed corpus)
    val base = (0 until 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      1L -> base,
      2L -> base.replace("w30", "w30x"),    // distance 1 (one char inserted)
      3L -> base.replace("w41 ", "zq9 "),   // distance 3 (one word swapped)
      4L -> (0 until 60).map(i => s"v$i").mkString(" ")) // disjoint vocab
      .toDF("doc_id", "text")
    val got = TextOps.editVerifiedNearDups(docs, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.get((1L, 2L)).contains(1L), s"got $got")
    assert(got.get((1L, 3L)).contains(3L), s"got $got")
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("duplicatedSpans: maximal spans merge, gaps split, self-repeats count, unique docs drop out") {
    import spark.implicits._
    val docs = Seq(
      1L -> "a b c d e f g h i j",                // shares a..h with doc 2
      2L -> "x a b c d e f g h y",
      3L -> "q r s t q r s t",                    // self-repeat
      4L -> "unique words only here nothing repeats",
      5L -> "a b c z1 z2 z3 z4 a b c")            // two islands, gap > n
      .toDF("doc_id", "text")
    val got = TextOps.duplicatedSpans(docs, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // doc 1: 3-grams p0..p5 duplicated (abc..fgh) -> one span [0,7] of 6
    // doc 2: same grams at p1..p6 -> [1,8] of 6
    // doc 3: qrs (p0,p4), rst (p1,p5); gap p4-p1=3 == n -> ONE span [0,7]
    // doc 5: abc at p0 and p7; gap 7 > 3 -> two 1-gram spans
    assert(got == Set(
      (1L, 0L, 7L, 6L), (2L, 1L, 8L, 6L), (3L, 0L, 7L, 4L),
      (5L, 0L, 2L, 1L), (5L, 7L, 9L, 1L)), got.toString)
  }

  test("gopherRules: each rule trips on exactly its designed violation") {
    import spark.implicits._
    val fifty = (1 to 48).map(i => s"word$i").mkString(" ") + " the of"
    val docs = Seq(
      1L -> fifty,                                      // passes everything
      2L -> "the of too short",                         // fails word count
      3L -> ((1 to 48).map(_ => "extraordinarily-long-token").mkString(" ") + " the of"),
      4L -> ((1 to 48).map(_ => "w").mkString(" ") + " the of"), // mean len < 3
      5L -> (fifty + " " + (1 to 10).map(_ => "#").mkString(" ")), // symbols
      6L -> ((1 to 48).map(i => s"$i").mkString(" ") + " the of"), // numeric words
      7L -> (1 to 50).map(i => s"word$i").mkString(" ")) // no stop words
      .toDF("doc_id", "text")
    val got = TextOps.gopherRules(docs, minWords = 50)
      .collect().map(r => r.getLong(0) -> (
        r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getBoolean(9),
        r.getBoolean(10), r.getBoolean(11))).toMap
    // (pass_words, pass_word_len, pass_symbol, pass_alpha, pass_stop, pass)
    assert(got(1L) == ((true, true, true, true, true, true)))
    assert(!got(2L)._1 && !got(2L)._6)
    assert(!got(3L)._2 && !got(3L)._6) // mean word length > 10
    assert(!got(4L)._2 && !got(4L)._6) // mean word length < 3
    assert(!got(5L)._3 && !got(5L)._6) // 10 symbols vs 60 words
    assert(!got(6L)._4 && !got(6L)._6) // 48/50 words have no alpha char
    assert(!got(7L)._5 && !got(7L)._6) // zero stop words
  }

  test("c4Rules: line keeps and page drops trip on exactly their designed violations") {
    import spark.implicits._
    val good = "one two three four five six words here."
    val docs = Seq(
      1L -> s"$good\n$good\n$good",               // 3 kept lines → pass
      2L -> s"$good\n$good",                      // only 2 kept → fail
      3L -> s"$good\n$good\n$good\nlorem ipsum",  // page killer (not a kept line)
      4L -> s"$good\n$good\n$good\ncode { x }",   // brace page killer
      5L -> s"$good\n$good\n$good\nsome Javascript line with many words.",
      6L -> s"$good\n$good\nshort line.\nno terminal punctuation at all",
      7L -> null.asInstanceOf[String])            // NULL text = empty page
      .toDF("doc_id", "text")
    val got = TextOps.c4Rules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getBoolean(6) && got(1L).getLong(2) == 3)
    assert(!got(2L).getBoolean(6) && got(2L).getLong(2) == 2)
    assert(!got(3L).getBoolean(6) && got(3L).getBoolean(3)) // has_lorem
    assert(!got(4L).getBoolean(6) && got(4L).getBoolean(4)) // has_brace
    // the javascript LINE drops but the page rule is per-line, so n_kept=3 → pass
    assert(got(5L).getLong(2) == 3 && got(5L).getBoolean(6))
    assert(!got(5L).getString(5).toLowerCase.contains("javascript"))
    // short + unterminated lines both drop
    assert(got(6L).getLong(2) == 2 && got(6L).getLong(1) == 4)
    assert(got(7L).getLong(1) == 0 && !got(7L).getBoolean(6))
    assert(got(7L).getString(5) == "")
  }

  test("bm25TopK equals a driver-side reference (idf, length norm, micro-rounding, ties)") {
    import spark.implicits._
    val corpus = Seq(
      1L -> "spark table scan",            // short doc, hits 2 terms
      2L -> "spark spark spark join join", // tf saturation
      3L -> "table join table join window window window table",
      4L -> "scan scan scan scan scan scan scan scan scan scan",
      5L -> "unrelated words only here")
    val queries = Seq((0L, "spark join"), (1L, "scan"))
    val got = TextOps.bm25TopK(corpus.toDF("doc_id", "text"), queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // reference replay
    val toks = corpus.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty) }
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.length).sum.toDouble / toks.size
    def dfOf(term: String) = toks.count(_._2.contains(term))
    def scoreOf(qts: Seq[String], id: Long): Option[(Long, Long)] = {
      val tks = toks.toMap.apply(id)
      val hits = qts.filter(t => tks.contains(t))
      if (hits.isEmpty) None
      else Some((hits.map { t =>
        val tf = tks.count(_ == t).toDouble
        val idf = math.log(1.0 + (n - dfOf(t) + 0.5) / (dfOf(t) + 0.5))
        math.rint(idf * (tf * 2.2) /
          (tf + 1.2 * (0.25 + 0.75 * tks.length / avgdl)) * 1e6).toLong
      }.sum, hits.size.toLong))
    }
    for ((qid, qs) <- Seq(0L -> Seq("spark", "join"), 1L -> Seq("scan"))) {
      val expect = corpus.map(_._1)
        .flatMap(id => scoreOf(qs, id).map(s => (id, s._1, s._2)))
        .sortBy { case (id, s, _) => (-s, id) }.take(3)
      expect.zipWithIndex.foreach { case ((id, s, nh), i) =>
        assert(got((qid, i + 1L)) == ((id, s, nh)), s"q$qid rank ${i + 1}")
      }
    }
  }

  test("corpusDelta: added/removed/changed/unchanged classify correctly") {
    import spark.implicits._
    val old = Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("doc_id", "text")
    val nw = Seq(1L -> "a", 2L -> "B", 4L -> "d").toDF("doc_id", "text")
    val got = TextOps.corpusDelta(old, nw)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("corpusDelta: NULL text means presence, not absence") {
    import spark.implicits._
    // doc 1: null in both → unchanged (not added+removed); doc 2:
    // null → value → changed; doc 3: value → null → changed; doc 5
    // genuinely absent from old → added.
    val old = Seq((1L, null: String), (2L, null: String), (3L, "x"))
      .toDF("doc_id", "text")
    val nw = Seq((1L, null: String), (2L, "y"), (3L, null: String),
      (5L, null: String)).toDF("doc_id", "text")
    val got = TextOps.corpusDelta(old, nw)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "changed", 5L -> "added"))
  }

  test("leakage-safe split: every member of a near-dup cluster lands in ONE split") {
    import spark.implicits._
    val docs = (
      (0L until 30L).map(i => i -> s"unique doc number $i with words w${i}a w${i}b w${i}c") ++
      // a planted 3-doc near-dup cluster
      Seq(100L -> "shared long content one two three four five six seven eight",
          101L -> "shared long content one two three four five six seven eight",
          102L -> "shared long content one two three four five six seven nine"))
      .toDF("doc_id", "text")
    val pairs = TextOps.minhashNearDups(docs, threshold = 0.5).select("da", "db")
    val comp = operators.Graph.connectedComponents(pairs, "da", "db")
    val cl = docs.select(col("doc_id"))
      .join(comp, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster"))
    val split = operators.Curation.hashSplit(cl, "cluster")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
    val clusterOf = split.toMap
    assert(clusterOf(100L)._1 == 100L && clusterOf(101L)._1 == 100L &&
      clusterOf(102L)._1 == 100L)
    assert(Set(clusterOf(100L)._2, clusterOf(101L)._2, clusterOf(102L)._2).size == 1)
    // split assignment is a pure function of the cluster id
    assert(split.groupBy(_._2._1).forall { case (_, g) => g.map(_._2._2).toSet.size == 1 })
  }

  test("URL canonicalization: case/port/fragment/utm/param-order all normalize") {
    import spark.implicits._
    val raw = Seq(
      1L -> "http://example5.com/p/3?b=2&a=1",
      2L -> "HTTP://EXAMPLE5.COM:80/p/3?a=1&b=2#frag",
      3L -> "http://Example5.com/p/3?utm_source=feed&b=2&a=1",
      4L -> "http://other.com/x", // no query at all
      5L -> "https://example5.com:8080/p/3?a=1") // non-default port survives
      .toDF("doc_id", "url")
    val groups = TextOps.urlDupGroups(raw).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(groups("http://example5.com/p/3?a=1&b=2") == ((3L, 3L, 1L)))
    assert(groups("http://other.com/x") == ((1L, 1L, 4L)))
    assert(groups("https://example5.com:8080/p/3?a=1") == ((1L, 1L, 5L)))
    assert(groups.size == 3)
  }
}
