package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity-search operators (brief: ANN over an embedding
  * column). Two tiers:
  *
  *  - [[cosineTopK]] — brute-force exact top-k for a SMALL broadcast query
  *    set against a large corpus: the corpus is scanned once, k rows per
  *    query survive the shuffle (window top-k). The baseline.
  *  - [[hyperplaneBuckets]] / [[bucketedTopK]] — random-hyperplane LSH: each
  *    vector gets a sign-pattern bucket; candidate generation is an
  *    equi-join on bucket id, so the all-pairs product never materializes.
  *    The scale path.
  *
  * All dot products fold left over explicit indices in DOUBLE — the exact
  * fold any IEEE engine (incl. the DuckDB oracle) reproduces bit-for-bit.
  */
object EmbedOps {

  /** Σ a[i]·b[i] over the FIRST `dim` components, as an explicit left fold
    * in double (slice first — a padded or longer vector must not leak
    * extra components into the score). */
  def dot(a: String, b: String, dim: Int): Column = expr(
    s"""aggregate(zip_with(slice($a, 1, $dim), slice($b, 1, $dim),
        (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        CAST(0 AS DOUBLE), (acc, v) -> acc + v)""")

  /** Σ a[i]² over the FIRST `dim` components — sliced exactly like [[dot]],
    * so a padded or longer vector cannot deflate cosine through the
    * denominator while the numerator ignores the extra components. */
  def norm2(a: String, dim: Int): Column = expr(
    s"""aggregate(transform(slice($a, 1, $dim),
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        CAST(0 AS DOUBLE), (acc, v) -> acc + v)""")

  /** Johnson–Lindenstrauss sign random projection: dim → outDim with a
    * fixed ±1 matrix derived from md5 parity — the deterministic,
    * seed-free dimensionality reducer that preserves pairwise distances
    * within (1±ε) and shrinks every downstream ANN/dedup shuffle by
    * dim/outDim. Inputs are quantized to integers (round(x·64), the
    * convention shared with [[kmeansAssign]]'s oracle), so each projected
    * coordinate is an exact integer sum both engines replay bit-for-bit.
    * Pure narrow projection — no shuffle; the sign matrix is plan-time
    * constant (sign(i,j) = parity of the 60-bit md5 of "i_j", a
    * definition any SQL engine can recompute). Output: (vec_id, j, p)
    * long format, one row per projected coordinate.
    *
    * The sign matrix is one array literal and each coordinate one
    * `aggregate(zip_with(...))` over its row, a left fold of integers: the
    * same values as 16 written-out 64-term sums, but generated code of a
    * constant size (the written-out sums exceed janino's 64 KB method
    * limit, and the stage then runs without whole-stage codegen). */
  def signProject(vecs: DataFrame, dim: Int = 64, outDim: Int = 16): DataFrame = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Long = {
      val hex = md.digest(s"${i}_${j}".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 1) 1L else -1L
    }
    val signs = Array.tabulate(outDim, dim)((j, i) => sign(i, j))
    val q = transform(slice(col("embedding"), 1, dim),
      x => round(x.cast("double") * 64, 0).cast("long"))
    val proj = transform(typedLit(signs),
      s => aggregate(zip_with(q, s, _ * _), lit(0L), _ + _))
    vecs.select(col("vec_id"), posexplode(proj))
      .select(col("vec_id"), col("pos").cast("int").as("j"), col("col").as("p"))
  }

  /** Exact covariance matrix over integer-quantized embeddings — the PCA /
    * whitening / decorrelation input. Returns one row per (i ≤ j) pair
    * with the exact integer numerator cov_num = n·Σqᵢqⱼ − Σqᵢ·Σqⱼ (the
    * n²-scaled covariance — divide by n² for the sample value), so both
    * engines replay it with zero float drift.
    *
    * Scale shape: ONE pass over the corpus. Each vector explodes to
    * dim·(dim+1)/2 product terms INSIDE the scan stage (generate →
    * partial hash agg — nothing fat crosses the shuffle; the partial agg
    * shrinks every partition to the 2,080-row upper triangle), plus a
    * dim-row marginal aggregate broadcast back. The 100 TB covariance is
    * exactly this map-side-combine shape. */
  def covarianceMatrix(vecs: DataFrame, dim: Int = 64): DataFrame = {
    // one fused TypedImperativeAggregate (guide §2.3 "aggregate before you
    // shuffle", §1.2 step 2): per vector a tight primitive loop over the
    // dim·(dim+1)/2 upper triangle + marginals, ONE ~25 KB partial per map
    // partition across the exchange. Replaces the generate-2,080-structs-
    // per-vector → hash-agg → two broadcast marginal joins plan (n·2,080
    // rows through Generate+HashAggregate — 3.4 s at sf0.1, vs ~0.3 s
    // fused) with bit-identical output rows: CovarianceAccum.eval replays
    // the old plan's count/sum/inner-join null semantics exactly.
    // the per-vector triangle loop runs INSIDE the scan stage; an under-
    // split input serializes it (see Tables.spreadForCpu — measured
    // 0.37→0.24 s at sf0.1/32c). Partial merge is exact int64 sums, so
    // partitioning cannot change the result.
    val q = graft.Tables.spreadForCpu(vecs).select(expr(
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 64) AS LONG))")
      .as("e"))
    q.agg(graft.functions.GraftFunctions.cov_accum(col("e"), dim).as("c"))
      .select(explode(col("c")).as("t"))
      .select("t.*")
  }

  /** PCA top-eigenvector direction via INTEGER power iteration on the
    * [[covarianceMatrix]] output — the "dominant axis of the embedding
    * cloud" primitive behind whitening, ABTT-style postprocessing, and
    * drift monitoring. Every step is exact integer arithmetic:
    *
    *   v₀ = 1;  uᵣ = C·vᵣ₋₁;  sᵣ = max(1, max_d |uᵣ[d]| div 2¹²);
    *   vᵣ[d] = sign(uᵣ[d]) · (|uᵣ[d]| div sᵣ)
    *
    * — the rescale keeps |v| ≈ 2¹², and the matvec accumulates in
    * DECIMAL(38,0) (exact integers to 10³⁸), so the iteration is exact
    * for any corpus whose covariance entries fit int64: |cov| ≤ 4096n²
    * < 2⁶³ ⇒ n ≲ 1.5·10⁹ vectors at the 64-quantization — four orders
    * past the previous all-int64 bound of ~9·10⁴, where dim·|cov|·2¹²
    * overflowed the matvec. Division only ever sees non-negative
    * operands (sign reapplied via the x − x%s construction, floor ≡
    * truncate there), the same proof shape as
    * [[TextOps.qualityClassifier]]; values are bit-identical to the
    * previous long arithmetic wherever that didn't overflow.
    * Convergence to the dominant eigendirection is the classic
    * power-iteration argument; the integer truncation is a ≤2⁻¹²
    * relative perturbation per round.
    *
    * Scale shape: the corpus-scale work is covarianceMatrix's one pass;
    * iteration then runs on dim² rows — broadcast-sized regardless of
    * corpus. Returns (d, v) — the un-normalized integer direction. */
  def pcaPowerIteration(vecs: DataFrame, dim: Int = 64,
      iters: Int = 3): DataFrame = {
    val cov = covarianceMatrix(vecs, dim)
      .select(col("i"), col("j"), col("cov_num")).localCheckpoint()
    powerIterationOn(cov, dim, iters)
  }

  /** Power iteration on an explicit (i, j, cov_num) upper-triangle
    * matrix — [[pcaPowerIteration]]'s iteration stage, exposed so the
    * overflow headroom is testable without a 10⁹-vector corpus. */
  def powerIterationOn(cov: DataFrame, dim: Int, iters: Int): DataFrame = {
    // mirror the upper triangle into the full symmetric matrix
    val full = cov.union(
      cov.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cov_num")))
    val spark = cov.sparkSession
    import spark.implicits._
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    var v = (0 until dim).map(d => (d, 1L)).toDF("d", "v")
    for (_ <- 1 to iters) {
      // decimal accumulate: |term| ≤ |cov|·2¹³ and dim ≤ 2⁷ terms stay
      // far inside 38 digits for any int64 cov entry
      val u = full.join(broadcast(v), full("j") === v("d"))
        .groupBy(full("i").as("d"))
        .agg(sum(col("cov_num").cast(dec38) * col("v").cast(dec38)).as("u"))
      // s = max(1, floor(max|u| / 4096)), all-decimal: x − x%4096 is an
      // exact multiple, so the division is an exact integer (no decimal
      // rounding anywhere); the long `div` it replaces overflowed at
      // |u| > 2⁶³ and its result at > 2⁶³·2⁻¹²
      val s = u.agg(max(expr("CASE WHEN u >= 0 THEN u ELSE -u END")).as("m"))
        .select(greatest(lit(1).cast(dec38),
          ((col("m") - pmod(col("m"), lit(4096))) / lit(4096)).cast(dec38))
          .as("s"))
      // |u| div s ≤ ~2¹³ — safely back to long
      v = u.crossJoin(broadcast(s))
        .select(col("d"), expr(
          """CASE WHEN u >= 0 THEN CAST((u - (u % s)) / s AS BIGINT)
             ELSE -CAST(((-u) - ((-u) % s)) / s AS BIGINT) END""").as("v"))
        .localCheckpoint()
    }
    v.select(col("d").cast("int").as("d"), col("v"))
  }

  /** ABTT-style top-component removal (Mu & Viswanath 2018, "All-but-
    * the-Top"): project every embedding orthogonal to the
    * [[pcaPowerIteration]] dominant direction — the standard embedding
    * postprocessing step before similarity search. To stay exact-integer
    * the residual is |v|²-scaled: r_d = q_d·|v|² − (q·v)·v_d (divide by
    * |v|² for the float value); every term is an int64-safe product of
    * the quantized inputs and the integer direction.
    *
    * Scale shape: direction + |v|² are broadcast-sized; the corpus pays
    * one per-vector dot aggregate and one join back — two shuffles,
    * linear. Returns (vec_id, d, r) long format. */
  def removeTopComponent(vecs: DataFrame, dim: Int = 64,
      iters: Int = 3): DataFrame = {
    val v = pcaPowerIteration(vecs, dim, iters).localCheckpoint()
    val n2 = v.agg(sum(col("v") * col("v")).as("n2"))
    val q = vecs.select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 64) AS LONG))")
      .as("e"))
      .select(col("vec_id"), posexplode(col("e")).as(Seq("d", "q")))
    val dot = q.join(broadcast(v), "d")
      .groupBy("vec_id").agg(sum(col("q") * col("v")).as("dot"))
    q.join(broadcast(v), "d").join(dot, "vec_id").crossJoin(broadcast(n2))
      .select(col("vec_id"), col("d").cast("int").as("d"),
        (col("q") * col("n2") - col("dot") * col("v")).as("r"))
  }

  /** Exact cosine top-k of `corpus` rows per `queries` row (queries assumed
    * small → broadcast; corpus side never shuffles more than k rows/query). */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    // dim-length dot products against every broadcast query run inside
    // the corpus scan stage; spread an under-split corpus (see
    // Tables.spreadForCpu — measured 0.48→0.40 s at sf0.1/32c)
    val c = graft.Tables.spreadForCpu(corpus)
      .select(col("vec_id"), col("embedding").as("ce"), col("label"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos", round(
        dot("qe", "ce", dim) / (sqrt(norm2("qe", dim)) * sqrt(norm2("ce", dim))), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "cos", "label")
  }

  /** Deterministic pseudo-random hyperplane weight for (plane p, dim d):
    * an LCG step mapped to [-0.5, 0.5) — exact dyadic rational, so any IEEE
    * engine computes identical signs. */
  private def planeExpr(vec: String, p: Int, dim: Int): String =
    s"""aggregate(sequence(0, ${dim - 1}), CAST(0 AS DOUBLE), (acc, d) ->
        acc + CAST(element_at($vec, d + 1) AS DOUBLE) *
          (CAST((CAST(1103515245 AS BIGINT) * ($p * $dim + d) + 12345) % 2147483648 AS DOUBLE)
           / 2147483648 - 0.5))"""

  /** Sign-pattern bucket id over `planes` random hyperplanes. */
  def hyperplaneBuckets(vecs: DataFrame, planes: Int = 8, dim: Int = 64): DataFrame = {
    val bucket = (0 until planes).map { p =>
      when(expr(planeExpr("embedding", p, dim)) > 0, 1L << p).otherwise(0L)
    }.reduce(_ + _)
    vecs.withColumn("bucket", bucket)
  }

  // --- IVF (inverted-file) ANN: the centroid-partitioned scale path ---

  /** Train an IVF codebook: deterministic seeding (evenly spaced over the
    * first `sampleCap` vectors by id) + `iters` Lloyd rounds, on the DRIVER
    * over a bounded sample — the standard IVF practice (faiss trains coarse
    * quantizers on a sample); the codebook is nlist x dim doubles, tiny.
    * The distributed hot path is assignment/search, never training. */
  def ivfTrain(vecs: DataFrame, nlist: Int = 16, dim: Int = 64,
      iters: Int = 5, sampleCap: Int = 4096): org.apache.spark.sql.graft.IvfCodebook = {
    val sample = vecs.orderBy(col("vec_id")).limit(sampleCap)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= nlist, s"need >= $nlist vectors, got ${sample.length}")
    var cents = Array.tabulate(nlist)(c => sample(c * sample.length / nlist).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nlist, dim)(0.0)
      val counts = new Array[Long](nlist)
      val cb = org.apache.spark.sql.graft.IvfCodebook(cents)
      sample.foreach { v =>
        val c = cb.cell(v)
        counts(c) += 1
        var d = 0
        while (d < math.min(dim, v.length)) { sums(c)(d) += v(d); d += 1 }
      }
      cents = Array.tabulate(nlist) { c =>
        if (counts(c) == 0) cents(c) // empty cell keeps its centroid
        else Array.tabulate(dim)(d => sums(c)(d) / counts(c))
      }
      it += 1
    }
    org.apache.spark.sql.graft.IvfCodebook(cents)
  }

  /** Distributed Lloyd's k-means over the FULL corpus — the
    * cluster-then-curate primitive (SemDeDup-style per-cluster semantic
    * dedup, diversity-balanced mixing, IVF training) when cluster QUALITY
    * is the product. [[ivfTrain]] trains on a bounded driver sample (the
    * faiss coarse-quantizer practice); this is the exact full-data variant.
    *
    * Scale shape, per iteration: assignment is the broadcast k×dim
    * nearest-centroid kernel (`vec_ivf_cell`, codegen'd — no UDF); the
    * update is ONE hash aggregate of (count, dim per-dimension partial
    * sums) with map-side combine, so the shuffle carries ≤ k·(dim+1)
    * doubles per map partition — corpus size never crosses the wire — and
    * the driver holds k×dim doubles, nothing else. `iters` is a fixed
    * small constant, so the job count is bounded. (Caveat: per-dimension
    * sums are IEEE doubles — exact while Σ|x| stays under 2^53, which a
    * quantized or unit-normalized corpus satisfies at any size.)
    *
    * Deterministic by construction (replayable, oracle-checkable): seeds =
    * the k lowest-id vectors (swap in k-means‖ for production seeding —
    * the seeding rule is orthogonal to the iteration plan), assignment
    * ties break to the lower cluster id (`IvfCodebook.cell`), empty
    * clusters keep their previous centroid (the faiss convention).
    * Returns (idCol, cluster). */
  def kmeansAssign(vecs: DataFrame, k: Int, dim: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = org.apache.spark.sql.graft.IvfCodebook(
      kmeansTrain(vecs, k, dim, iters, idCol, vecCol))
    vecs.select(col(idCol),
      graft.functions.GraftFunctions.vec_ivf_cell(
        expr(s"CAST(($vecCol) AS ARRAY<DOUBLE>)"), cb).as("cluster"))
  }

  /** The training loop behind [[kmeansAssign]] (and the per-sub-space
    * trainer of [[pqTrain]]): returns the k×dim centroids after `iters`
    * Lloyd rounds. `vecExpr` is any SQL expression yielding an
    * array<double> (a column name, or a slice for PQ sub-spaces). */
  def kmeansTrain(vecs: DataFrame, k: Int, dim: Int, iters: Int,
      idCol: String = "vec_id",
      vecExpr: String = "embedding"): Array[Array[Double]] = {
    require(k >= 1 && iters >= 0, s"k=$k iters=$iters")
    val seeds = vecs.orderBy(col(idCol).asc).limit(k)
      .select(expr(s"CAST(($vecExpr) AS ARRAY<DOUBLE>)"))
      .collect().map(_.getSeq[Double](0).toArray.padTo(dim, 0.0))
    require(seeds.length == k, s"need >= $k vectors, got ${seeds.length}")
    var cents = seeds
    var it = 0
    while (it < iters) {
      val cb = org.apache.spark.sql.graft.IvfCodebook(cents)
      val sums = (0 until dim).map(d =>
        sum(expr(s"CAST(($vecExpr)[$d] AS DOUBLE)")).as(s"s$d"))
      val rows = vecs
        .groupBy(graft.functions.GraftFunctions.vec_ivf_cell(
          expr(s"CAST(($vecExpr) AS ARRAY<DOUBLE>)"), cb).as("cluster"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      val next = cents.map(_.clone())
      rows.foreach { r =>
        val c = r.getInt(0)
        val n = r.getLong(1)
        if (n > 0) {
          var d = 0
          while (d < dim) { next(c)(d) = r.getDouble(d + 2) / n; d += 1 }
        }
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Product-quantization model: m sub-spaces of subDim dims, each with
    * its own k-centroid codebook (m × k × subDim doubles — driver-tiny). */
  final case class PqModel(subDim: Int,
      codebooks: Array[org.apache.spark.sql.graft.IvfCodebook])
    extends Serializable {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.nlist
  }

  /** Train a PQ model (Jégou/Douze/Schmid, "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011 — the compressed-corpus ANN
    * standard past the sizes where even SQ8 fits): dim splits into m
    * sub-spaces and each gets an independent [[kmeansTrain]] codebook.
    * m × iters bounded aggregate jobs; each is the kmeans shuffle shape
    * (k·(subDim+1) doubles per partition). Deterministic like kmeans. */
  def pqTrain(vecs: DataFrame, m: Int, k: Int, dim: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): PqModel = {
    require(dim % m == 0, s"dim=$dim not divisible into m=$m sub-spaces")
    val subDim = dim / m
    val books = (0 until m).map { j =>
      org.apache.spark.sql.graft.IvfCodebook(kmeansTrain(
        vecs, k, subDim, iters, idCol,
        vecExpr = s"slice($vecCol, ${j * subDim + 1}, $subDim)"))
    }.toArray
    PqModel(subDim, books)
  }

  /** Encode the corpus: each vector becomes m small codes (nearest
    * sub-space centroid ids) — ONE codegen'd projection, no shuffle. At
    * m=8, k=256 a 64-dim float vector compresses 32×. */
  def pqEncode(vecs: DataFrame, model: PqModel,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val codeCols = (0 until model.m).map { j =>
      graft.functions.GraftFunctions.vec_ivf_cell(
        expr(s"CAST(slice($vecCol, ${j * model.subDim + 1}, ${model.subDim}) AS ARRAY<DOUBLE>)"),
        model.codebooks(j))
    }
    vecs.select(col(idCol), array(codeCols: _*).as("codes"))
  }

  /** ADC (asymmetric-distance) top-k over a PQ-coded corpus: per query a
    * driver-built m×k lookup table of (sub-query → centroid) squared
    * distances rides a broadcast join; each corpus row scores with m
    * table lookups folded left (`zip_with` + `aggregate`, codegen'd) — no
    * float vector ever touches the corpus side again. Queries are assumed
    * small (the [[cosineTopK]] contract); ranking ties break on vec_id. */
  def pqTopK(queries: DataFrame, codes: DataFrame, model: PqModel,
      topK: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col(idCol).cast("long").as("qid"),
        expr(s"CAST(($vecCol) AS ARRAY<DOUBLE>)").as("qe"))
      .collect()
      .map { r =>
        val q = r.getSeq[Double](1).toArray
        val lut = Array.tabulate(model.m) { j =>
          val cb = model.codebooks(j)
          Array.tabulate(model.k) { c =>
            var s = 0.0
            var d = 0
            while (d < model.subDim) {
              val t = q(j * model.subDim + d) - cb.centroids(c)(d)
              s += t * t
              d += 1
            }
            s
          }.toSeq
        }.toSeq
        (r.getLong(0), lut)
      }
    val luts = broadcast(qRows.toSeq.toDF("qid", "lut"))
    val scored = codes.crossJoin(luts)
      .withColumn("dist", round(expr(
        """aggregate(zip_with(codes, lut, (c, row) -> element_at(row, c + 1)),
           CAST(0 AS DOUBLE), (acc, v) -> acc + v)"""), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select("qid", "rank", idCol, "dist")
  }

  /** IVFADC index build: ONE codegen'd projection emitting the coarse
    * cell (inverted-list id) and the m PQ codes per vector — at scale
    * this is what you persist, partitioned/bucketed by `cell`, and it is
    * the only thing the search ever scans (bytes, not float vectors). */
  def ivfPqIndex(corpus: DataFrame, coarse: org.apache.spark.sql.graft.IvfCodebook,
      model: PqModel, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val codeCols = (0 until model.m).map { j =>
      graft.functions.GraftFunctions.vec_ivf_cell(
        expr(s"CAST(slice($vecCol, ${j * model.subDim + 1}, ${model.subDim}) AS ARRAY<DOUBLE>)"),
        model.codebooks(j))
    }
    corpus.select(col(idCol),
      graft.functions.GraftFunctions.vec_ivf_cell(
        expr(s"CAST(($vecCol) AS ARRAY<DOUBLE>)"), coarse).as("cell"),
      array(codeCols: _*).as("codes"))
  }

  /** IVF-routed ADC search — the IVFADC composition (Jégou et al., minus
    * residual refinement): each query probes its `nprobe` nearest coarse
    * cells and scores ONLY those inverted lists with its PQ lookup tables.
    * Candidate volume is ~|corpus|·nprobe/k_coarse instead of a full scan,
    * the probe is an equi-join on `cell` (broadcast query side — the
    * partition-pruning shape when the index is bucketed by cell), and the
    * scan reads byte codes, never float vectors. Ranking ties on vec_id. */
  def ivfPqTopK(queries: DataFrame, index: DataFrame,
      coarse: org.apache.spark.sql.graft.IvfCodebook, model: PqModel,
      nprobe: Int, topK: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col(idCol).cast("long").as("qid"),
        expr(s"CAST(($vecCol) AS ARRAY<DOUBLE>)").as("qe"))
      .collect()
      .flatMap { r =>
        val q = r.getSeq[Double](1).toArray
        val lut = Array.tabulate(model.m) { j =>
          val cb = model.codebooks(j)
          Array.tabulate(model.k) { c =>
            var s = 0.0
            var d = 0
            while (d < model.subDim) {
              val t = q(j * model.subDim + d) - cb.centroids(c)(d)
              s += t * t
              d += 1
            }
            s
          }.toSeq
        }.toSeq
        coarse.nearestCells(q, nprobe).map(cell => (r.getLong(0), cell, lut))
      }
    val probes = broadcast(qRows.toSeq.toDF("qid", "cell", "lut"))
    val scored = index.join(probes, "cell")
      .withColumn("dist", round(expr(
        """aggregate(zip_with(codes, lut, (c, row) -> element_at(row, c + 1)),
           CAST(0 AS DOUBLE), (acc, v) -> acc + v)"""), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select("qid", "rank", idCol, "dist")
  }

  /** Index build: one scan adding the inverted-list id. At scale this is
    * what you persist, partitioned/bucketed by `cell`. */
  def ivfIndex(corpus: DataFrame, cb: org.apache.spark.sql.graft.IvfCodebook): DataFrame =
    corpus.withColumn("cell",
      graft.functions.GraftFunctions.vec_ivf_cell(col("embedding"), cb))

  /** IVF top-k: probe the `nprobe` cells nearest each query (equi-join on
    * cell — the corpus never cross-joins), exact cosine re-rank, window
    * top-k. With nprobe = nlist the candidate set is the full corpus and
    * the result provably equals [[cosineTopK]] (each corpus vector lives in
    * exactly one cell, so full probe loses nothing — the q51 oracle). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      cb: org.apache.spark.sql.graft.IvfCodebook, k: Int, dim: Int,
      nprobe: Int): DataFrame = {
    val probes = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("cell", explode(
        graft.functions.GraftFunctions.vec_ivf_probe_cells(col("qe"), cb, nprobe)))
    val c = ivfIndex(corpus, cb)
      .select(col("cell"), col("vec_id"), col("embedding").as("ce"), col("label"))
    val scored = c.join(broadcast(probes), "cell")
      .withColumn("cos", round(
        dot("qe", "ce", dim) / (sqrt(norm2("qe", dim)) * sqrt(norm2("ce", dim))), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "cos", "label")
  }

  /** LSH-bucketed near-neighbour pairs: bucket equi-join + exact cosine. */
  def bucketedTopK(vecs: DataFrame, planes: Int, dim: Int,
      minCos: Double): DataFrame = {
    val b = hyperplaneBuckets(vecs, planes, dim)
    val l = b.select(col("bucket"), col("vec_id").as("ida"), col("embedding").as("ea"))
    val r = b.select(col("bucket"), col("vec_id").as("idb"), col("embedding").as("eb"))
    l.join(r, "bucket").filter(col("ida") < col("idb"))
      .withColumn("cos", round(
        dot("ea", "eb", dim) / (sqrt(norm2("ea", dim)) * sqrt(norm2("eb", dim))), 6))
      .filter(col("cos") >= minCos)
      .select("ida", "idb", "bucket", "cos")
  }

  /** SemDeDup-style semantic-dedup VERDICT (Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus into clusters, compute
    * within-cluster cosines only, and drop every vector that is
    * τ-similar to a cluster-mate with a smaller id. The clusters here are
    * the deterministic hyperplane sign buckets (the paper uses k-means;
    * any partition bounds the pairwise cost the same way), and id order
    * replaces the paper's distance-to-centroid tie-break so the verdict
    * is engine-independent and oracle-checkable.
    *
    * Scale shape: ONE equi-join on bucket — candidates are Σ per-bucket
    * n², exactly the paper's per-cluster similarity matrix, never
    * all-pairs; raise `planes` to keep buckets small as the corpus grows.
    * Returns (vec_id, bucket, max_prior_cos, keep): `max_prior_cos` is
    * the best cosine against any smaller-id bucket-mate (NULL if alone),
    * keep ⇔ that maximum is NULL or < τ. */
  def semDedup(vecs: DataFrame, planes: Int, dim: Int, tau: Double): DataFrame = {
    // the Σn² dot-product join probes a BROADCAST build, so the whole
    // chain inherits the scan's split count; an under-split input
    // serializes it (see Tables.spreadForCpu — measured 1.32→0.76 s)
    val b = hyperplaneBuckets(graft.Tables.spreadForCpu(vecs), planes, dim)
    val earlier = b.select(col("bucket").as("ba"), col("vec_id").as("ida"),
      col("embedding").as("ea"))
    val prior = b
      .select(col("bucket"), col("vec_id"), col("embedding").as("eb"))
      .join(earlier, col("ba") === col("bucket") && col("ida") < col("vec_id"))
      .withColumn("cos", round(
        dot("ea", "eb", dim) / (sqrt(norm2("ea", dim)) * sqrt(norm2("eb", dim))), 6))
      .groupBy(col("vec_id").as("vid"))
      .agg(max(col("cos")).as("max_prior_cos"))
    b.select(col("vec_id"), col("bucket"))
      .join(prior, col("vec_id") === col("vid"), "left")
      .select(col("vec_id"), col("bucket"), col("max_prior_cos"),
        (col("max_prior_cos").isNull || col("max_prior_cos") < tau).as("keep"))
  }

  // --- SQ8 (8-bit scalar quantization): the compressed-corpus ANN path ---

  /** Per-dimension (min, step) for uniform 8-bit quantization:
    * step_d = (max_d − min_d)/255. One distributed aggregate (min/max are
    * order-insensitive and exact on floats); the result is 2·dim doubles on
    * the driver — the SQ analog of the IVF codebook. */
  def sqTrain(corpus: DataFrame, dim: Int): (Array[Double], Array[Double]) = {
    val aggs = (0 until dim).flatMap { d =>
      val e = expr(s"CAST(element_at(embedding, ${d + 1}) AS DOUBLE)")
      Seq(min(e).as(s"mn$d"), max(e).as(s"mx$d"))
    }
    val r = corpus.agg(aggs.head, aggs.drop(1): _*).head()
    val mins = Array.tabulate(dim)(d => r.getDouble(2 * d))
    val steps = Array.tabulate(dim)(d =>
      (r.getDouble(2 * d + 1) - r.getDouble(2 * d)) / 255.0)
    (mins, steps)
  }

  /** 8-bit codes: clamp(floor((v − min)/step), 0, 255) per dimension (code
    * 0 where the dimension is constant). Every op before the final int cast
    * is IEEE-exact double arithmetic, so any engine reproduces the codes
    * bit-for-bit — which is what makes SQ8 oracle-provable where k-means
    * PQ is not. In production the code array packs to `binary` (1 byte/dim,
    * 4× smaller than float32) — kept as array<int> here so the DuckDB
    * oracle can index it. */
  def sqEncode(vecs: DataFrame, mins: Array[Double],
      steps: Array[Double]): DataFrame =
    vecs
      .withColumn("mn", array(mins.map(lit): _*))
      .withColumn("st", array(steps.map(lit): _*))
      .withColumn("code", expr(
        """transform(sequence(1, size(embedding)), i ->
             CASE WHEN element_at(st, i) = CAST(0 AS DOUBLE) THEN 0
                  ELSE CAST(least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                    CAST(floor((CAST(element_at(embedding, i) AS DOUBLE)
                      - element_at(mn, i)) / element_at(st, i)) AS DOUBLE)))
                    AS INT) END)"""))
      .drop("mn", "st")

  /** Asymmetric-distance top-k over the quantized corpus: full-precision
    * query vs bucket-center reconstruction (min + (code+0.5)·step), squared
    * L2 folded left over the dims — the exact fold the oracle mirrors.
    * Same shape as [[cosineTopK]] (broadcast queries, corpus scanned once,
    * k rows/query survive the window) but the scanned payload is the 1-byte
    * code stream: at 100 TB the corpus fits 4× more vectors per executor,
    * which is the entire point of SQ. */
  def sqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int): DataFrame = {
    val (mins, steps) = sqTrain(corpus, dim)
    val codes = sqEncode(corpus, mins, steps)
      .select(col("vec_id"), col("code"), col("label"))
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = codes.crossJoin(broadcast(q))
      .withColumn("mn", array(mins.map(lit): _*))
      .withColumn("st", array(steps.map(lit): _*))
      .withColumn("recon", expr(
        """transform(sequence(1, size(code)), i ->
             element_at(mn, i)
               + (CAST(element_at(code, i) AS DOUBLE) + 0.5) * element_at(st, i))"""))
      .withColumn("dist", round(expr(
        """aggregate(zip_with(qe, recon, (x, y) ->
             (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
           CAST(0 AS DOUBLE), (acc, v) -> acc + v)"""), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "dist", "label")
  }
}
