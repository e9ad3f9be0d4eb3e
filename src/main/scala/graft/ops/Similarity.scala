package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  *  - cosine / dot product via `zip_with` + `aggregate` higher-order
  *    functions — codegen'd, no UDF, works on any array column.
  *  - brute-force top-k: broadcast the query vector, score every row,
  *    one global top-k (TakeOrderedAndProject — no full sort).
  *  - IVF-style blocked search: a coarse partitioner column (here the
  *    `label` cell, in production a k-means cell id) restricts the pair
  *    space; the scale path for pairwise near-dup at 100 TB.
  *  - LSH (random hyperplanes): sign bits of dot products with
  *    deterministic pseudo-random planes derived from a hash — bucket
  *    join replaces the cross product entirely.
  */
object Similarity {

  /** Elementwise dot product of two array<float/double> columns (cast to
    * double first: exact widening, associative enough to be reproducible
    * for a fixed in-array order).
    *
    * Native kernel, not `aggregate(zip_with(...))`: higher-order
    * functions are CodegenFallback, so the per-element lambda ran
    * interpreted — the dominant cost of every embedding operator. The
    * kernel reproduces the identical element-order double accumulation
    * (and the null-on-length-mismatch/null-element semantics), so all
    * round-6 oracle gates hash unchanged.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotD(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force top-k by cosine against one query vector. The query is a
    * literal array (broadcast-by-value into the codegen'd projection);
    * the plan is scan → project → TakeOrderedAndProject: no shuffle of
    * vectors, only k rows to the driver.
    */
  def bruteForceTopK(vecs: DataFrame, idCol: String, vecCol: String,
                     query: Array[Float], k: Int): DataFrame = {
    val q = lit(query)
    vecs
      .select(col(idCol).as("vec_id"),
        cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Coarse cell id from `primes.size` sign-plane bits (an IVF-style
    * deterministic quantizer: cell count = 2^planes, scales with the
    * plane count instead of the data). Plane `prime` gives component i
    * the sign +1 iff (i·prime) mod 64 < 32: arithmetic-only, so it is
    * bit-identical in any engine (the SQL oracle reproduces it with a
    * CASE), unlike a hash-derived plane, and quasi-random enough for
    * coarse blocking. Each plane's projection is rounded to 6 dp before
    * the sign test, so float re-association order (Spark array order vs
    * the oracle's group-by sum) cannot flip a bit. Native kernel — all
    * planes in one compiled pass over the vector; VectorExprsSpec pins
    * it against the per-plane higher-order formulation it replaced.
    */
  def signCell(vec: Column, primes: Seq[Int]): Column =
    graft.functions.VectorExprs.signCell(vec, primes)

  /** Banded sign-cell postings (id, [gate,] band, cell) — the ONE
    * construction of the deterministic prime-plane band keys, shared by
    * the batch pair join and the incremental-maintenance state so the
    * two paths use the same plane family structurally, not by
    * convention.
    */
  def bandedSignPostings(vecs: DataFrame, idCol: String, vecCol: String,
      planes: Int, bands: Int, gate: Option[Column] = None): DataFrame = {
    require(planes * bands <= lshPrimes.size, "raise the prime table")
    val base = vecs.select(
      col(idCol).as("id"),
      gate.getOrElse(lit(0L)).as("gate"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          signCell(col(vecCol), lshPrimes.slice(b * planes, (b + 1) * planes))
            .as("cell"))
      }: _*)).as("bc"))
      .select(col("id"), col("gate"), col("bc.band"), col("bc.cell"))
    if (gate.isDefined) base else base.drop("gate")
  }

  /** Exact-cosine verify against a precomputed (id, v, n) table — the
    * one implementation of the verify arm (batch derives the table from
    * the input; the incremental path persists it as state). Zero-norm
    * vectors (failed encodes, padding rows) are dropped: their cosine
    * is 0/0 = NaN, and Spark's NaN ordering would otherwise let the
    * garbage pair PASS any threshold.
    */
  def cosineVerifyArrays(pairs: DataFrame, arrs: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .join(arrs.select(col("id").as("id_a"), col("v").as("_va"), col("n").as("_na")),
        Seq("id_a"))
      .join(arrs.select(col("id").as("id_b"), col("v").as("_vb"), col("n").as("_nb")),
        Seq("id_b"))
      .filter(col("_na") > 0 && col("_nb") > 0)
      .withColumn("cos", dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))

  /** Banded sign-LSH near-neighbour pairs: each vector gets `bands`
    * (band, cell) keys (disjoint plane sets per band); pairs sharing any
    * band-cell are candidates (OR-amplification recovers the recall a
    * single cut loses), then exact cosine ≥ threshold verifies. This is
    * the scale path for embedding near-dup: the pair space shrinks by
    * ~2^planes per band and no cell is data-dependent (no hot `label`
    * cell going cartesian). At 100 TB raise `planes` (cells = 2^planes)
    * so per-cell membership stays bounded.
    */
  def signLshPairs(vecs: DataFrame, idCol: String, vecCol: String,
                   planes: Int = 4, bands: Int = 2,
                   threshold: Double = 0.5,
                   gate: Option[Column] = None): DataFrame = {
    // candidate generation carries ONLY ids: the band self-join and the
    // pair dedup shuffle (id, band, cell) rows, never vectors; the
    // per-vector norm is computed once, so the verify stage is one dot
    // product per pair (not three). `gate` is an optional extra per-row
    // key candidates must also share (e.g. a k-means cell for the
    // SemDeDup composition) — it rides the same ids-only join.
    val keyed = bandedSignPostings(vecs, idCol, vecCol, planes, bands,
      Some(gate.getOrElse(lit(0L))))
    val l = keyed.as("l"); val r = keyed.as("r")
    val cands = l.join(r,
        col("l.gate") === col("r.gate") &&
          col("l.band") === col("r.band") && col("l.cell") === col("r.cell") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val arrs = vecs.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("n"))
    cosineVerifyArrays(cands, arrs, threshold)
  }

  /** IVF-style pairwise near-neighbour pairs: only pairs sharing the
    * coarse cell (cellCol) are scored — for a PRE-EXISTING partition
    * column (a k-means assignment, a tenant id). Skew in cell sizes is
    * the thing to watch; for a data-independent quantizer use
    * signLshPairs instead.
    */
  def blockedPairs(vecs: DataFrame, idCol: String, vecCol: String,
                   cellCol: String, threshold: Double): DataFrame = {
    val l = vecs.select(col(cellCol).as("cell"), col(idCol).as("id_a"),
      col(vecCol).as("va"))
    val r = vecs.select(col(cellCol).as("cell"), col(idCol).as("id_b"),
      col(vecCol).as("vb"))
    l.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Driver-side cosine with the same arithmetic as [[cosine]]: widen
    * to double, accumulate in array order. Used for the (dimension-
    * sized) centroid/probe ranking so it agrees with the distributed
    * side and the SQL oracle after round-6.
    */
  private def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dp += x * y; na += x * x; nb += y * y; i += 1
    }
    dp / (math.sqrt(na) * math.sqrt(nb))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** IVF (inverted-file) top-k: the scale path for single-query ANN.
    *
    * `centroids` is the coarse quantizer — here seed vectors (a
    * k-means refinement would slot in unchanged: only the array
    * changes, the plan does not). Every data vector is assigned to its
    * nearest centroid by an argmax computed INLINE over the literal
    * centroid array (`array_min` over (−cos, cid) structs): a pure
    * map-side projection, no shuffle, no join — the centroid set rides
    * into codegen as literals exactly like the broadcast query vector
    * in [[bruteForceTopK]]. The query probes only the `nprobe` nearest
    * cells, so the exact-cosine stage scans ~nprobe/|C| of the data;
    * the plan is scan → project → filter → TakeOrderedAndProject
    * (k rows to the driver, never a full sort).
    *
    * Cosines are rounded to 6 dp before every comparison (assignment
    * argmax, probe ranking, final order) so float re-association
    * cannot flip a cell or a rank against the SQL oracle — the same
    * convention as [[signCell]]'s planes.
    */
  def ivfTopK(vecs: DataFrame, idCol: String, vecCol: String,
              centroids: Array[(Long, Array[Float])], query: Array[Float],
              nprobe: Int, k: Int): DataFrame = {
    // degenerate vectors have no cosine direction: a zero or
    // non-finite centroid (an empty k-means cell, say) is silently
    // unusable rather than a NaN that crashes the driver-side
    // BigDecimal rounding, and a zero query has no defined top-k at
    // all; zero-norm DATA rows are filtered below (Spark sorts NaN
    // first in a descending order — they would otherwise fake top
    // ranks, where a SQL engine's NULL sorts last)
    def finite(cv: Array[Float]) =
      cv.forall(v => !v.isNaN && !v.isInfinite)
    val usable = centroids.filter { case (_, cv) =>
      finite(cv) && cv.exists(_ != 0.0f) }
    require(usable.nonEmpty, "ivfTopK needs at least one nonzero centroid")
    require(finite(query) && query.exists(_ != 0.0f),
      "ivfTopK query must have finite nonzero norm")
    val cellOf = array_min(array(usable.map { case (cid, cv) =>
      struct((-round(cosine(col(vecCol), lit(cv)), 6)).as("nr"),
        lit(cid).as("cid"))
    }: _*)).getField("cid")
    val probes = usable
      .map { case (cid, cv) => (round6(cosineLocal(query, cv)), cid) }
      .sortBy { case (rc, cid) => (-rc, cid) }
      .take(nprobe).map(_._2)
    vecs
      .withColumn("_cell", cellOf)
      .filter(col("_cell").isin(probes: _*))
      .select(col(idCol).as("vec_id"),
        round(cosine(col(vecCol), lit(query)), 6).as("cos_r"))
      .filter(!isnan(col("cos_r")))
      .orderBy(col("cos_r").desc, col("vec_id"))
      .limit(k)
  }

  // package-visible: IncrementalDedup builds the identical banded
  // sign-cells for its persisted postings, so batch and incremental
  // candidates come from one plane family by construction
  private[ops] val lshPrimes =
    Seq(3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59)

  /** Hyperplane LSH signature: `planes` sign bits packed into a long,
    * using the same deterministic ±1 prime-sign plane family as
    * signCell — arithmetic-only, so the DuckDB oracle reproduces it
    * bit-exactly (an earlier xxhash64-derived variant was Spark-only).
    * Docs sharing the full signature (or a band of it) are near-dup
    * candidates under angular distance.
    */
  def hyperplaneSignature(vec: Column, planes: Int): Column = {
    require(planes <= lshPrimes.size, "raise the prime table")
    signCell(vec, lshPrimes.take(planes))
  }

  /** LSH-bucketed candidate pairs: join on the hyperplane signature. */
  def lshCandidates(vecs: DataFrame, idCol: String, vecCol: String,
                    planes: Int = 16): DataFrame = {
    val sig = vecs.select(col(idCol).as("id"), col(vecCol).as("v"),
      hyperplaneSignature(col(vecCol), planes).as("sig"))
    val l = sig.select(col("sig"), col("id").as("id_a"), col("v").as("va"))
    val r = sig.select(col("sig"), col("id").as("id_b"), col("v").as("vb"))
    l.join(r, Seq("sig"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Fixed-point scale for the integer-exact k-means arithmetic: float
    * components are floored to `x * 2^20` longs ONCE at the scan, so
    * every per-cluster component sum is an exact, order-independent
    * integer — the piece of the computation a hash gate can pin without
    * any float-association caveat.
    */
  val KmeansScale: Long = 1L << 20

  /** Distributed Lloyd's k-means over an embedding column — the
    * centroid refinement [[ivfTopK]]'s coarse quantizer slots in, and
    * the clustering step of a SemDeDup-style semantic dedup.
    *
    * The 100 TB shape per iteration:
    *  - ASSIGNMENT is an inline-literal argmin exactly like ivfTopK's
    *    cell assignment — a pure map-side projection, zero shuffle,
    *    no join: the k×d centroid matrix rides into codegen as
    *    literals.
    *  - UPDATE is ONE map-side-combinable aggregate (count + d
    *    component sums per cluster): the shuffle carries k×(d+1)
    *    numbers per map task, never vectors. The k×d result is
    *    collected to the driver (dimension-sized, like the dictionary
    *    pulls elsewhere) to become the next round's literals.
    *
    * Portability: scaled-long components make the sums exact;
    * centroid components are s/n (one IEEE division of exact
    * integers), and squared distances are rounded to 6 dp (in
    * unscaled units) before every argmin comparison with a cid
    * tiebreak — the same convention that keeps ivfTopK's assignment
    * oracle-exact. Returns the final assignment's per-cluster count
    * plus the exact scaled component sums of the first three
    * dimensions: an integer-exact, order-independent signature of the
    * full clustering.
    */
  /** Fixed-point scaled copy of an embedding column (see [[KmeansScale]]). */
  def scaledVec(vec: Column): Column =
    transform(vec,
      x => floor(x.cast("double") * lit(KmeansScale.toDouble)).cast("long"))

  /** Inline-literal nearest-centroid assignment over a SCALED vector
    * column: round-6 d² (unscaled units) with cid tiebreak — zero
    * shuffle, no join; the k×d matrix rides into codegen as literals.
    */
  def kmeansCellCol(scaledV: Column,
      cents: Array[(Long, Array[Double])]): Column = {
    val sc2 = KmeansScale.toDouble * KmeansScale.toDouble
    // native per-centroid squared distance (same element-order double
    // accumulation as the former aggregate∘zip_with, which ran
    // interpreted k times per row)
    graft.functions.VectorExprs.field(
      array_min(array(cents.map { case (cid, cv) =>
        struct(
          round(graft.functions.VectorExprs.sqDistD(scaledV, lit(cv))
            / lit(sc2), 6).as("d2"),
          lit(cid).as("cid"))
      }: _*)), 1)
  }

  /** Lloyd update loop: `iters - 1` refinement rounds from the seed
    * rows, each one map-side-combinable k×(d+1) aggregate + a
    * dimension-sized driver pull. Returns the centroids the FINAL
    * assignment pass should use.
    */
  def kmeansCentroids(vecs: DataFrame, idCol: String, vecCol: String,
      seedIds: Seq[Long], iters: Int): Array[(Long, Array[Double])] = {
    require(iters >= 1, "kmeans needs at least one assignment pass")
    val scaled = vecs.select(col(idCol).as("id"), scaledVec(col(vecCol)).as("v"))
    val seeds = scaled.filter(col("id").isin(seedIds: _*)).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    require(seeds.nonEmpty, "no seed vectors found")
    val d = seeds.head._2.length
    var cents: Array[(Long, Array[Double])] =
      seeds.map { case (cid, sv) => (cid, sv.map(_.toDouble)) }
    var it = 0
    while (it < iters - 1) {
      val sums = scaled.withColumn("cell", kmeansCellCol(col("v"), cents))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          (0 until d).map(i => sum(element_at(col("v"), i + 1)).as(s"s$i")): _*)
        .collect()
      cents = sums.map { r =>
        val n = r.getLong(1).toDouble
        (r.getLong(0), Array.tabulate(d)(i => r.getLong(2 + i) / n))
      }.sortBy(_._1)
      it += 1
    }
    cents
  }

  def kmeans(vecs: DataFrame, idCol: String, vecCol: String,
      seedIds: Seq[Long], iters: Int): DataFrame = {
    val cents = kmeansCentroids(vecs, idCol, vecCol, seedIds, iters)
    vecs.select(col(idCol).as("id"), scaledVec(col(vecCol)).as("v"))
      .withColumn("cell", kmeansCellCol(col("v"), cents))
      .groupBy(col("cell").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(element_at(col("v"), 1)).as("s0"),
        sum(element_at(col("v"), 2)).as("s1"),
        sum(element_at(col("v"), 3)).as("s2"))
      .orderBy(col("cluster_id"))
  }

  /** Symmetric int8 scalar quantization of a NORMALIZED vector: each
    * component of the unit vector maps to floor(uᵢ · 127) ∈ [−127, 127]
    * (the FAISS SQ8 shape for cosine/IP metrics — normalizing first is
    * what makes the integer dot product track the cosine ranking; an
    * affine per-dim shift would swamp the score with the offset terms).
    * floor (not round) and a fixed association order — square-sum in
    * array order, then (x / n) · 127 — make the result reproducible in
    * any IEEE engine; the SQL oracle writes the identical expressions
    * over a list-ordered fold. Zero-norm vectors quantize to all-zero
    * (score 0, never NaN).
    *
    * `normCol` must be a MATERIALIZED column (projected in a previous
    * step), not an inline norm expression: a subexpression referenced
    * inside a `transform` lambda re-evaluates per ELEMENT.
    */
  def quantizedVec(vec: Column, normCol: Column): Column =
    transform(vec, x =>
      when(normCol === 0.0, lit(0L))
        .otherwise(floor(x.cast("double") / normCol * lit(127.0))))

  /** Driver-side twin of [[quantizedVec]] for the query vector — same
    * IEEE ops in the same order, so the literal the plan carries equals
    * what the oracle computes in SQL.
    */
  def quantizeLocal(v: Array[Float]): Array[Long] = {
    var ss = 0.0; var i = 0
    while (i < v.length) { val x = v(i).toDouble; ss += x * x; i += 1 }
    val n = math.sqrt(ss)
    Array.tabulate(v.length)(j =>
      if (n == 0.0) 0L else math.floor(v(j).toDouble / n * 127.0).toLong)
  }

  /** Scalar-quantized (int8-style) top-k: the memory-bound ANN scale
    * path — 4× smaller vectors and an all-integer scoring loop (the
    * shape SIMD int8 kernels exploit on real hardware; qdot/127² ≈
    * cosine). Quantization happens inline in the scan projection (the
    * quantized query rides into codegen as a literal — zero shuffle,
    * no join), scoring is an exact integer dot product, and the plan
    * ends in TakeOrderedAndProject. The integer score makes the gate
    * hash-exact with no rounding convention at all.
    */
  def scalarQuantTopK(vecs: DataFrame, idCol: String, vecCol: String,
      queryQ: Array[Long], k: Int): DataFrame = {
    vecs
      .select(col(idCol).as("vec_id"), col(vecCol).as("_v"),
        norm(col(vecCol)).as("_n"))
      .select(col("vec_id"),
        aggregate(
          zip_with(quantizedVec(col("_v"), col("_n")), lit(queryQ),
            (a, b) => a * b),
          lit(0L), (acc, v) => acc + v).as("qdot"))
      .orderBy(col("qdot").desc, col("vec_id"))
      .limit(k)
  }

  /** Product-quantization (PQ-ADC) top-k: the memory-bound ANN ladder's
    * last rung after IVF (prune by cell) and SQ (int8 components) —
    * each vector is stored as M sub-space code indices (here 8 codes
    * over 64 dims: 8 bytes/vector, a 32× compression), and query-time
    * scoring never touches a vector at all: it sums M entries of a
    * precomputed query↔codeword lookup table (the ADC — asymmetric
    * distance computation — of Jégou et al. 2011).
    *
    * The 100 TB shape: the codebook is dimension-sized (M×16 codewords,
    * collected once, guarded), encoding is an inline literal argmin per
    * sub-space — a pure map-side projection exactly like [[ivfTopK]]'s
    * cell assignment, no shuffle, no join — and the ADC table rides
    * into codegen as M literal long arrays indexed by the code columns.
    * The plan is scan → project → TakeOrderedAndProject. ADC entries
    * are fixed to a 1e-6 grain and summed as LONGS, so the score is
    * integer-exact across engines (the sq qdot convention); only the
    * per-sub-space distances/dots round at 6 dp, computed in array
    * order on both sides.
    *
    * `codebook`: (code id 1..C, full d-dim vector) — sub-space s uses
    * dims [s·dsub, (s+1)·dsub) of each codebook vector, so seed data
    * vectors serve as codewords the same way they serve as IVF
    * centroids (a trained k-means codebook slots in unchanged).
    */
  def pqTopK(vecs: DataFrame, idCol: String, vecCol: String,
      codebook: Array[(Long, Array[Float])], query: Array[Float],
      subspaces: Int, k: Int): DataFrame = {
    val d = query.length
    require(d % subspaces == 0, s"dim $d not divisible by $subspaces")
    val dsub = d / subspaces
    require(codebook.nonEmpty && codebook.forall(_._2.length == d),
      "codebook must be nonempty full-dimension vectors")
    val cw = codebook.sortBy(_._1)
    // code ids double as 1-based ADC positions — the lookup below is
    // element_at(literal array, code), which only works contiguously
    require(cw.map(_._1).toSeq == (1L to cw.length.toLong),
      "codebook ids must be contiguous 1..C")
    // squared L2 between a sub-vector column and a literal codeword,
    // summed in array order (bit-compatible with the oracle's
    // list_sum over ascending j) — native kernel, same accumulation
    def d2(sub: Column, c: Array[Double]): Column =
      graft.functions.VectorExprs.sqDistD(sub, lit(c))
    val codeCols = (0 until subspaces).map { s =>
      val sub = slice(col(vecCol), s * dsub + 1, dsub)
      array_min(array(cw.map { case (cid, cv) =>
        val cSub = cv.slice(s * dsub, (s + 1) * dsub).map(_.toDouble)
        struct(round(d2(sub, cSub), 6).as("d"), lit(cid).as("c"))
      }: _*)).getField("c").as(s"_c$s")
    }
    // ADC lookup tables: round-6 query·codeword dots at a 1e-6 integer
    // grain — positions are code ids (1..C) because cw is id-sorted
    val adc: Array[Array[Long]] = Array.tabulate(subspaces) { s =>
      cw.map { case (_, cv) =>
        var ip = 0.0
        var j = s * dsub
        while (j < (s + 1) * dsub) { ip += query(j).toDouble * cv(j); j += 1 }
        math.round(round6(ip) * 1e6)
      }
    }
    val score = (0 until subspaces)
      .map(s => element_at(lit(adc(s)), col(s"_c$s").cast("int")))
      .reduce(_ + _)
    vecs
      .select((col(idCol).as("vec_id") +: codeCols): _*)
      .select(col("vec_id"), score.as("qip_e6"))
      .orderBy(col("qip_e6").desc, col("vec_id"))
      .limit(k)
  }

  /** SemDeDup-style semantic dedup ACTION: cluster (k-means), then
    * prune near-duplicates WITHIN each semantic cluster — a document
    * is dropped when a lower-id vector in the SAME k-means cell and
    * the same sign-LSH bucket has cosine ≥ threshold.
    *
    * The 100 TB shape: candidates must share (kmeans cell, band, LSH
    * cell) — the in-cluster pair space is bucketed exactly like
    * [[signLshPairs]] (ids-only candidate join, one dot per verified
    * pair), never the O((n/k)²) within-cluster cross product. The
    * k-means assignment is the same zero-shuffle inline argmin as
    * [[kmeans]]; the LSH keys are the same deterministic prime-sign
    * planes as [[signLshPairs]], so both halves are oracle-exact.
    * Returns the dropped ids with their in-cell lower-id near-dup
    * count (integer-exact gate).
    */
  def semDedup(vecs: DataFrame, idCol: String, vecCol: String,
      seedIds: Seq[Long], iters: Int, planes: Int = 4, bands: Int = 2,
      threshold: Double = 0.4): DataFrame = {
    val cents = kmeansCentroids(vecs, idCol, vecCol, seedIds, iters)
    signLshPairs(vecs, idCol, vecCol, planes, bands, threshold,
        gate = Some(kmeansCellCol(scaledVec(col(vecCol)), cents)))
      .groupBy(col("id_b").as("vec_id"))
      .agg(count(lit(1)).as("n_dups_lower"))
      .orderBy(col("vec_id"))
  }
}
