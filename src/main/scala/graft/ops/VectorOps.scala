package graft.ops

/** One scored corpus vector inside the batched-ANN top-k buffer. Top-level
  * so the Aggregator's buffer encoder stays codegen-compatible (nested
  * private case classes force interpreted fallback). */
private[ops] case class ScoredVec(cos: Double, vec_id: Long)

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`embeddings(vec_id,
  * embedding array<float>, label)`): brute-force cosine top-k as the exact
  * baseline, LSH sign-bucketing and an IVF-style coarse quantizer as the
  * scale paths.
  *
  * Dot products run in double via `zip_with` + `aggregate` (codegen'd
  * higher-order functions — no UDF), summed left-to-right so the result is
  * bit-deterministic and matches DuckDB's sequential list kernels.
  *
  * Scale notes: brute-force against one query vector is a narrow map + global
  * top-k (tournament via `orderBy.limit` — Spark's TakeOrderedAndProject, no
  * full sort). All-pairs is never materialized: LSH buckets or IVF cells
  * bound the join fan-out; both shuffle only (bucket → members), sized by
  * cluster occupancy, not corpus².
  */
object VectorOps {

  /** dot(a, b) in double, sequential sum. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k by cosine against the embedding of `queryId`. */
  def annTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = emb.where(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    emb.where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** All near pairs among vec_id < idBound with cosine ≥ threshold
    * (embedding-cosine near-dup detection). Norms are hoisted to one
    * computation per VECTOR before the join (bit-identical: the same
    * sqrt(dot(e,e)) expression, evaluated once instead of once per pair) —
    * per-pair work drops from 3 to 1 array traversals. */
  def cosinePairs(emb: DataFrame, idBound: Long, threshold: Double): DataFrame = {
    require(idBound <= DedupOps.BrutePairBound,
      s"cosinePairs is the O(n²) oracle twin — idBound=$idBound exceeds " +
      s"${DedupOps.BrutePairBound}; use cosineVerify over bandedSignBuckets " +
      "(or the IVF family) at corpus scale")
    val sub = emb.where(col("vec_id") < idBound)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("n"))
    val a = sub.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("n").as("a_n"))
    val b = sub.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("n").as("b_n"))
    a.crossJoin(b).where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(col("a_emb"), col("b_emb")) / (col("a_n") * col("b_n")), 4)
          .as("cos"))
      .where(col("cos") >= threshold)
      .orderBy("a_id", "b_id")
  }

  /** Deterministic integer hyperplane j: weights in −3..3 from a mixed hash
    * of (plane, dim) — planes must be mutually uncorrelated or buckets
    * degenerate (the round-1 affine pattern ((d·(j+2)+1) mod 7) − 3 made the
    * 4 planes near-copies of each other: single-probe recall@20 measured
    * 0.05; hashed weights + Hamming-1 multi-probe measure ≥0.5). Integer
    * weights keep the projection exactly representable in double, so the
    * DuckDB oracle (which receives these as literals) agrees bit-for-bit. */
  def hyperplaneWeights(dim: Int, j: Int): Seq[Double] =
    (0 until dim).map { d =>
      val x = j * 1315423911L + d * 2654435761L + 97531L
      val m = x ^ (x >>> 16) ^ (x << 7)
      ((((m % 7) + 7) % 7) - 3).toDouble
    }

  /** Sign-bucket expression over the `embedding` column: bit j =
    * [dot(e, w_j) > 0] — row-local, codegen'd. */
  def bucketExpr(planes: Int = 4, dim: Int = 64): Column =
    (0 until planes).map { j =>
      val w = array(hyperplaneWeights(dim, j).map(lit): _*)
      when(dot(col("embedding"), w) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH sign-bucket per vector: bit j = [dot(e, w_j) > 0], 4 planes →
    * 16 buckets. Query-time ANN probes only its own bucket. */
  def lshBuckets(emb: DataFrame, planes: Int = 4): DataFrame =
    emb.select(col("vec_id"), bucketExpr(planes).as("bucket")).orderBy("vec_id")

  /** All near pairs at scale: LSH-bucket candidate generation composed with
    * the exact cosine verifier — the join fans out only within a bucket
    * (occupancy-bounded), never corpus². Each vector lives in exactly one
    * sign bucket, so pairs are unique by construction. Same output as
    * [[cosinePairs]] restricted to same-bucket pairs; cross-bucket near pairs
    * are the (tunable) recall loss every sign-LSH scheme trades for scale —
    * raise recall with fewer planes or multi-probe, not a crossJoin. */
  def cosineVerify(emb: DataFrame, threshold: Double, planes: Int = 4): DataFrame = {
    // norm hoisted to one computation per vector (before the bucket join);
    // per candidate pair only the dot product traverses the arrays
    val b = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("n"), bucketExpr(planes).as("bucket"))
    val l = b.select(col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("n").as("a_n"))
    val r = b.select(col("bucket"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("n").as("b_n"))
    l.join(r, "bucket").where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(col("a_emb"), col("b_emb")) / (col("a_n") * col("b_n")), 4)
          .as("cos"))
      .where(col("cos") >= threshold)
      .orderBy("a_id", "b_id")
  }

  /** Signature of band `band`: `rPlanes` sign bits from hyperplanes
    * band·rPlanes .. band·rPlanes+rPlanes−1 — every (band, plane) pair gets
    * its own hashed weights, so bands are mutually independent tables. */
  def bandSignature(band: Int, rPlanes: Int, dim: Int = 64): Column =
    (0 until rPlanes).map { j =>
      val w = array(hyperplaneWeights(dim, band * rPlanes + j).map(lit): _*)
      when(dot(col("embedding"), w) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Banded sign-LSH candidate pairs (VERDICT r3 task #4 — the same band
    * structure as DedupOps' MinHash LSH): `bands` independent tables of
    * `rPlanes` sign bits; a pair is a candidate when it agrees on ALL
    * rPlanes bits of ANY band. This decouples the two knobs the single-table
    * [[cosineVerify]] conflates: per-band bucket occupancy is
    * corpus ⁄ 2^rPlanes in expectation (add planes to shrink the join
    * fan-out), recall is 1 − (1 − s^rPlanes)^bands for bit-agreement rate s
    * (add bands to raise it). The shuffle is keyed (band, signature) and the
    * join fans out only within a bucket — never corpus². */
  def bandedCandidatePairs(emb: DataFrame, bands: Int, rPlanes: Int): DataFrame = {
    require(rPlanes >= 1 && rPlanes <= 62 && bands >= 1)
    val sigs = (0 until bands).map(b =>
      emb.select(col("vec_id"), lit(b).as("band"), bandSignature(b, rPlanes).as("sig")))
      .reduce(_ unionByName _)
    val l = sigs.select(col("band"), col("sig"), col("vec_id").as("a_id"))
    val r = sigs.select(col("band"), col("sig"), col("vec_id").as("b_id"))
    l.join(r, Seq("band", "sig")).where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Per-(band, signature) bucket sizes — the occupancy guard's input. The
    * within-bucket join does O(n²) work in each bucket, so callers sizing
    * `rPlanes` for a corpus should check `max(n)` here stays inside their
    * per-task budget (the spec pins this on a skewed fixture). */
  def bandOccupancy(emb: DataFrame, bands: Int, rPlanes: Int): DataFrame =
    (0 until bands).map(b =>
      emb.select(lit(b).as("band"), bandSignature(b, rPlanes).as("sig")))
      .reduce(_ unionByName _)
      .groupBy("band", "sig").agg(count(lit(1)).as("n"))

  /** All near pairs at scale via banded LSH + exact cosine verify — the
    * 100 TB default over [[cosineVerify]]'s single 4-plane table (whose
    * 16 buckets fan a within-bucket join out over corpus/16 — a scale
    * killer at the default). `occupancyWarn > 0` runs the one-aggregate
    * occupancy probe first and logs any bucket above the cap to stderr —
    * opt-in, so the serving path stays single-plan. */
  def bandedCosineVerify(emb: DataFrame, threshold: Double,
                         bands: Int = 8, rPlanes: Int = 10,
                         occupancyWarn: Long = 0L): DataFrame = {
    if (occupancyWarn > 0L) {
      val hot = bandOccupancy(emb, bands, rPlanes)
        .where(col("n") > occupancyWarn).orderBy(col("n").desc).limit(8).collect()
      hot.foreach(r => System.err.println(
        s"[bandedCosineVerify] hot bucket band=${r.getInt(0)} sig=${r.getLong(1)} " +
          s"n=${r.getLong(2)} > $occupancyWarn — raise rPlanes or pre-split"))
    }
    val withN = emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("n"))
    bandedCandidatePairs(emb, bands, rPlanes)
      .join(withN.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("n").as("a_n")), "a_id")
      .join(withN.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("n").as("b_n")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(dot(col("a_emb"), col("b_emb")) / (col("a_n") * col("b_n")), 4)
          .as("cos"))
      .where(col("cos") >= threshold)
      .orderBy("a_id", "b_id")
  }

  /** IVF-style coarse index: cells = LSH sign buckets (a deterministic
    * stand-in for k-means centroids — no iterative training, same probe
    * structure). Multi-probe: the query probes its own cell plus every cell
    * at Hamming distance ≤ `probeRadius` in bucket-bit space (the standard
    * recall lever — perturb the least-confident hash bits — without touching
    * more than (1+planes)/2^planes of the corpus). Deterministic, so
    * SQL-oracled; recall@k vs brute-force [[annTopK]] is pinned in OpsSpec. */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int, probeRadius: Int = 1): DataFrame = {
    val withB = emb.select(col("vec_id"), col("embedding"), bucketExpr().as("bucket"))
    val qb = withB.where(col("vec_id") === queryId)
      .select(col("bucket").as("q_bucket"), col("embedding").as("q_emb"))
    withB.crossJoin(broadcast(qb))
      .where(bit_count(col("bucket").bitwiseXOR(col("q_bucket"))) <= probeRadius &&
        col("vec_id") =!= queryId)
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  private def nearestCell(centers: Array[Array[Double]], e: Array[Float]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      val ctr = centers(c)
      var d = 0.0
      var i = 0
      while (i < e.length) { val x = e(i) - ctr(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Trained coarse quantizer for true IVF: `iters` Lloyd rounds with
    * deterministic seeding (the `k` lowest-vec_id embeddings — reproducible
    * regardless of partitioning, unlike RNG-seeded k-means|| whose result
    * shifts with the partition layout). Each round is the classic
    * distributed k-means shape: one narrow assignment map over the corpus +
    * one map-side-combined reduceByKey to k rows; centroid state lives on
    * the driver (k×dim doubles) and is broadcast — nothing corpus-sized
    * ever moves. Empty cells retain their previous centroid. */
  def kmeansCentroids(emb: DataFrame, k: Int = 16, iters: Int = 5): Array[Array[Double]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val data = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    var centers: Array[Array[Double]] =
      data.orderBy("vec_id").limit(k).collect().sortBy(_._1).map(_._2.map(_.toDouble))
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(centers)
      val sums = data.rdd.map { t =>
        val e = t._2
        val cell = nearestCell(bc.value, e)
        val acc = new Array[Double](e.length)
        var i = 0
        while (i < e.length) { acc(i) = e(i); i += 1 }
        (cell, (acc, 1L))
      }.reduceByKey { (x, y) =>
        val (a, na) = x
        val (b, nb) = y
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        (a, na + nb)
      }.collect().toMap
      centers = centers.zipWithIndex.map { case (old, ci) =>
        sums.get(ci) match {
          case Some((s, n)) => s.map(_ / n)
          case None         => old
        }
      }
      bc.destroy()
      it += 1
    }
    centers
  }

  /** Persisted IVF index: trains centroids ([[kmeansCentroids]]), assigns
    * every vector to its nearest cell with one narrow map, and writes the
    * corpus parquet PARTITIONED BY cell plus a tiny `centroids` table. This
    * is the serving shape at 100 TB: training + assignment cost is paid once
    * per snapshot; a query then reads only its `nProbe` probed cell
    * directories — partition pruning at the scan, so I/O is nProbe/k of the
    * corpus, not a full pass (plan-asserted in PlanQualitySpec). */
  def buildIvfIndex(emb: DataFrame, dir: String, k: Int = 16, iters: Int = 5): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centers = kmeansCentroids(emb, k, iters)
    val bc = spark.sparkContext.broadcast(centers)
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map(t => (t._1, t._2, nearestCell(bc.value, t._2)))
      .toDF("vec_id", "embedding", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/vectors")
    centers.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Query a [[buildIvfIndex]] snapshot by vector: rank cells by centroid
    * distance (k centroids — driver-trivial), then scan ONLY the probed cell
    * partitions for the exact cosine top-k. */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                   query: Array[Double], k: Int, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val centers = spark.read.parquet(s"$dir/centroids")
      .as[(Int, Array[Double])].collect().sortBy(_._1)
    val probes = centers.map { case (cell, c) =>
      var d = 0.0
      var j = 0
      while (j < query.length) { val x = query(j) - c(j); d += x * x; j += 1 }
      (cell, d)
    }.sortBy { case (cell, d) => (d, cell) }.take(nProbe).map(_._1).toSeq
    val qArr = array(query.map(lit): _*)
    spark.read.parquet(s"$dir/vectors")
      .where(col("cell").isin(probes: _*))
      .select(col("vec_id"),
        round(cosine(col("embedding"), qArr), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF search with trained centroids (the upgrade over [[ivfTopK]]'s LSH
    * cells): vectors are assigned to their nearest centroid; the query
    * probes the `nProbe` nearest cells only. In a served deployment the
    * assignment map is computed once per snapshot and persisted alongside
    * the embeddings (one narrow map) — the query then scans nProbe/k of the
    * corpus; it is inlined here so the operator is self-contained. */
  def ivfCentroidTopK(emb: DataFrame, centers: Array[Array[Double]],
                      queryId: Long, k: Int, nProbe: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.where(col("vec_id") === queryId)
      .select(col("embedding")).as[Array[Float]].head().map(_.toDouble)
    val probes = centers.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      var j = 0
      while (j < q.length) { val x = q(j) - c(j); d += x * x; j += 1 }
      (i, d)
    }.sortBy { case (i, d) => (d, i) }.take(nProbe).map(_._1).toSeq
    val bc = spark.sparkContext.broadcast(centers)
    val assigned = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) => (id, nearestCell(bc.value, e)) }
      .toDF("vec_id", "cell")
    val qArr = array(q.map(lit): _*)
    emb.join(assigned, "vec_id")
      .where(col("cell").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"),
        round(cosine(col("embedding"), qArr), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  // --- V5: 8-bit scalar quantization (the SQ8 of FAISS-style serving) -------

  /** Per-dimension [min, max] bounds as two ALIGNED array columns (one row).
    * One map-side-combined aggregate reduced to dim rows, re-assembled into
    * arrays — at 100 TB this is the whole training cost of SQ8. */
  def sqBounds(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("d")
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(d, mn))), s -> s.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(d, mx))), s -> s.mx)").as("mxs"))

  /** Quantize expression (embedding, mns, mxs in scope → array<int> codes).
    * Clamped to [0, 255]: values inside the training bounds are untouched
    * (so the v5/v5b oracles stay bit-identical), but vectors APPENDED after
    * bounds training ([[appendIvfSqIndex]]) may exceed them and must
    * saturate rather than wrap. */
  private val SqCodeExpr =
    "transform(embedding, (x, d) -> CASE WHEN mxs[d] = mns[d] THEN 0 " +
      "ELSE cast(least(255.0D, greatest(0.0D, " +
      "round((cast(x as double) - mns[d]) / (mxs[d] - mns[d]) * 255.0D, 0))) as int) END)"

  /** One-shot quantize+reconstruct expression (from the raw embedding).
    * Same [0, 255] clamp as [[SqCodeExpr]] so a reconstruct of any vector
    * equals the decode of its stored code even when the vector lies outside
    * the training bounds (in-bounds values — and so the v5/v5b oracles,
    * whose bounds cover the whole corpus — are unaffected). */
  private val SqReExpr =
    "transform(embedding, (x, d) -> mns[d] + " +
      "(CASE WHEN mxs[d] = mns[d] THEN 0.0D " +
      "ELSE least(255.0D, greatest(0.0D, " +
      "round((cast(x as double) - mns[d]) / (mxs[d] - mns[d]) * 255.0D, 0))) END)" +
      " * (mxs[d] - mns[d]) / 255.0D)"

  /** Decode expression from STORED codes — the same multiply/divide order as
    * [[SqReExpr]], so a persisted code round-trips to the identical double. */
  private val SqDecodeExpr =
    "transform(codes, (c, d) -> mns[d] + cast(c as double) * (mxs[d] - mns[d]) / 255.0D)"

  /** 8-bit codes: code_d = round((x_d − mn_d) / (mx_d − mn_d) · 255)
    * (degenerate dims → 0). Row-local against the broadcast one-row bounds —
    * 4 bytes/dim at rest and on the wire becomes 1. */
  def sqQuantize(emb: DataFrame, bounds: DataFrame): DataFrame =
    emb.crossJoin(broadcast(bounds))
      .select(col("vec_id"), expr(SqCodeExpr).as("codes"))

  /** Reconstructed vectors x̂_d = mn_d + code_d · (mx_d − mn_d) / 255 —
    * the asymmetric-distance decode, kept in double and in the exact
    * expression order the DuckDB oracle mirrors (bit-identical). */
  def sqReconstruct(emb: DataFrame, bounds: DataFrame): DataFrame =
    emb.crossJoin(broadcast(bounds))
      .select(col("vec_id"), expr(SqReExpr).as("re"))

  /** Brute top-k by cosine over SQ8-RECONSTRUCTED vectors (query quantized
    * too — symmetric SQ distance). The scale story: the corpus scan reads
    * 1-byte codes instead of floats; recall loss is bounded by per-dim
    * quantization error (≤ (mx−mn)/510 per coordinate). Composes with the
    * IVF family: quantize within cells for IVF-SQ. */
  def sqTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val rec = sqReconstruct(emb, sqBounds(emb))
    val q = rec.where(col("vec_id") === queryId).select(col("re").as("qe"))
    rec.where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("re"), col("qe")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  // --- V5b: persisted IVF-SQ index (coarse quantizer + 1-byte codes) --------

  /** Persisted IVF-SQ index — the FAISS `IVFx,SQ8` serving shape: trained
    * coarse centroids ([[kmeansCentroids]]) partition the corpus by cell,
    * and within every cell vectors are stored as SQ8 codes against GLOBAL
    * per-dim bounds ([[sqBounds]]). At 100 TB this composes both levers:
    * a query reads nProbe/k of the corpus via partition pruning AND each
    * vector read is 1 byte/dim instead of 4 — a 4× I/O cut on top of the
    * probe cut, at a recall cost bounded by the per-dim quantization step. */
  def buildIvfSqIndex(emb: DataFrame, dir: String, k: Int = 16, iters: Int = 5): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centers = kmeansCentroids(emb, k, iters)
    val bc = spark.sparkContext.broadcast(centers)
    val bounds = sqBounds(emb)
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map(t => (t._1, t._2, nearestCell(bc.value, t._2)))
      .toDF("vec_id", "embedding", "cell")
      .crossJoin(broadcast(bounds))
      .select(col("vec_id"), expr(SqCodeExpr).as("codes"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    centers.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    bounds.coalesce(1).write.mode("overwrite").parquet(s"$dir/bounds")
  }

  /** Append new vectors to a [[buildIvfSqIndex]] snapshot WITHOUT
    * retraining — the serving-update path (the ANN twin of the text index's
    * incremental snapshot merge): new vectors are assigned to the STORED
    * centroids and quantized against the STORED bounds (out-of-bounds
    * coordinates saturate — [[SqCodeExpr]] clamps), then appended to the
    * matching cell partitions. Centroid/bounds drift is the standard IVF
    * operational trade: queries stay correct (a probe still scans whole
    * cells), recall decays only as the data distribution drifts, and a
    * periodic rebuild retrains — exactly the snapshot-compaction cadence
    * the text side uses. One narrow map + a partitioned append; nothing
    * shuffles, nothing existing is rewritten. */
  def appendIvfSqIndex(emb: DataFrame, dir: String): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centers = spark.read.parquet(s"$dir/centroids")
      .as[(Int, Array[Double])].collect().sortBy(_._1).map(_._2)
    val bc = spark.sparkContext.broadcast(centers)
    val bounds = spark.read.parquet(s"$dir/bounds")
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map(t => (t._1, t._2, nearestCell(bc.value, t._2)))
      .toDF("vec_id", "embedding", "cell")
      .crossJoin(broadcast(bounds))
      .select(col("vec_id"), expr(SqCodeExpr).as("codes"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
  }

  /** Query a [[buildIvfSqIndex]] snapshot by raw vector: rank cells by
    * centroid distance (driver-trivial), scan ONLY the probed cell
    * partitions, decode codes row-locally against the broadcast bounds, and
    * rank by symmetric SQ cosine (query quantized through the same
    * expression path, so engine math is identical to [[sqTopK]]). */
  def ivfSqIndexTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                     query: Array[Float], k: Int, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val centers = spark.read.parquet(s"$dir/centroids")
      .as[(Int, Array[Double])].collect().sortBy(_._1)
    val probes = centers.map { case (cell, c) =>
      var d = 0.0
      var j = 0
      while (j < query.length) { val x = query(j) - c(j); d += x * x; j += 1 }
      (cell, d)
    }.sortBy { case (cell, d) => (d, cell) }.take(nProbe).map(_._1).toSeq
    val bounds = spark.read.parquet(s"$dir/bounds")
    val qRe = Seq(Tuple1(query)).toDF("embedding")
      .crossJoin(broadcast(bounds))
      .select(expr(SqReExpr).as("re"))
      .as[Array[Double]].head()
    val qArr = array(qRe.map(lit): _*)
    spark.read.parquet(s"$dir/codes")
      .where(col("cell").isin(probes: _*))
      .crossJoin(broadcast(bounds))
      .select(col("vec_id"),
        round(cosine(expr(SqDecodeExpr), qArr), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  // --- V7: product quantization (the PQ of FAISS IVFx,PQy serving) ----------

  private def nearestCellD(centers: Array[Array[Double]], e: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      val ctr = centers(c)
      var d = 0.0
      var i = 0
      while (i < e.length) { val x = e(i) - ctr(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** PQ codebook training (Jégou et al. 2011, "Product quantization for
    * nearest neighbor search"): the vector splits into `m` subspaces of
    * dim/m coordinates; each subspace gets its own `k`-centroid quantizer,
    * trained by the same deterministic seeded Lloyd as [[kmeansCentroids]]
    * (seeds = the k lowest-vec_id embeddings, so the result is independent
    * of partitioning). ALL m quantizers train in the SAME pass: each round
    * is one narrow flatMap (m sub-rows per vector) + one map-side-combined
    * reduceByKey to m×k rows; codebook state is m×k×(dim/m) doubles on the
    * driver, broadcast each round — nothing corpus-sized moves. Returns
    * codebooks(subspace)(centroid)(coordinate). */
  def pqTrain(emb: DataFrame, m: Int = 8, k: Int = 32,
              iters: Int = 5): Array[Array[Array[Double]]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val data = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    val seeds = data.orderBy("vec_id").limit(k).collect().sortBy(_._1).map(_._2)
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    var books: Array[Array[Array[Double]]] = Array.tabulate(m)(mi =>
      seeds.map(e => e.slice(mi * sub, (mi + 1) * sub).map(_.toDouble)))
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(books)
      val sums = data.rdd.flatMap { case (_, e) =>
        val bs = bc.value
        (0 until bs.length).iterator.map { mi =>
          val s = new Array[Double](sub)
          var i = 0
          while (i < sub) { s(i) = e(mi * sub + i); i += 1 }
          ((mi, nearestCellD(bs(mi), s)), (s, 1L))
        }
      }.reduceByKey { (x, y) =>
        val (a, na) = x
        val (b, nb) = y
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        (a, na + nb)
      }.collect().toMap
      books = Array.tabulate(m)(mi => books(mi).zipWithIndex.map { case (old, ci) =>
        sums.get((mi, ci)).map { case (s, n) => s.map(_ / n) }.getOrElse(old)
      })
      bc.destroy()
      it += 1
    }
    books
  }

  /** PQ encode: one code per subspace — dim floats become m small ints
    * (m bytes at k ≤ 256). One narrow map against the broadcast codebooks. */
  def pqEncode(emb: DataFrame, books: Array[Array[Array[Double]]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(books)
    val sub = books.head.head.length
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, e) =>
        val bs = bc.value
        val codes = new Array[Int](bs.length)
        var mi = 0
        while (mi < bs.length) {
          val s = new Array[Double](sub)
          var i = 0
          while (i < sub) { s(i) = e(mi * sub + i); i += 1 }
          codes(mi) = nearestCellD(bs(mi), s)
          mi += 1
        }
        (id, codes)
      }.toDF("vec_id", "codes")
  }

  /** V7: PQ top-k by asymmetric-distance cosine — the query stays exact,
    * every corpus vector is its PQ reconstruction x̂ (the concatenation of
    * its m chosen centroids). Cosine decomposes over subspaces:
    *   cos(q, x̂) = Σ_mi lutDot(mi, code_mi) / (|q| · √Σ_mi lutNorm(mi, code_mi)),
    * so the scan reads m bytes per vector and does 2m LUT lookups — the
    * classic PQ serving kernel, here over a broadcast m×k dot/norm LUT.
    * Composes with the IVF family exactly like SQ (cell-partition the codes
    * for IVF-PQ). Deterministic: seeded training + (cos, vec_id) ordering —
    * recall@20 vs brute force is pinned in OpsSpec. */
  def pqTopK(emb: DataFrame, books: Array[Array[Array[Double]]],
             queryId: Long, kTop: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.where(col("vec_id") === queryId)
      .select(col("embedding")).as[Array[Float]].head().map(_.toDouble)
    val sub = books.head.head.length
    val lutDot = books.zipWithIndex.map { case (book, mi) =>
      book.map { c =>
        var d = 0.0
        var i = 0
        while (i < sub) { d += q(mi * sub + i) * c(i); i += 1 }
        d
      }
    }
    val lutNorm = books.map(_.map { c =>
      var n = 0.0
      var i = 0
      while (i < c.length) { n += c(i) * c(i); i += 1 }
      n
    })
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    val bcD = spark.sparkContext.broadcast(lutDot)
    val bcN = spark.sparkContext.broadcast(lutNorm)
    pqEncode(emb.where(col("vec_id") =!= queryId), books)
      .as[(Long, Array[Int])]
      .map { case (id, codes) =>
        val ld = bcD.value
        val ln = bcN.value
        var dot = 0.0
        var nrm = 0.0
        var mi = 0
        while (mi < codes.length) {
          dot += ld(mi)(codes(mi)); nrm += ln(mi)(codes(mi)); mi += 1
        }
        (id, math.rint(dot / (qNorm * math.sqrt(nrm)) * 1e4) / 1e4)
      }.toDF("vec_id", "cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(kTop)
  }

  // --- V7b: persisted IVF-PQ index (coarse quantizer + residual PQ codes) ---

  /** Persisted IVF-PQ index — the FAISS `IVFx,PQy` serving shape, composing
    * the coarse quantizer of [[buildIvfSqIndex]] with RESIDUAL product
    * quantization (Jégou et al. 2011 §IV-A): each vector is stored as its
    * cell id plus the PQ codes of (x − centroid_cell). Residuals concentrate
    * near the origin, so the same m×kSub codebook budget covers a far
    * smaller volume than raw vectors — the standard reason serving indexes
    * encode residuals. All m sub-quantizers train in one [[pqTrain]] pass
    * over the residual stream (itself one narrow map against the broadcast
    * centroids). At rest: m small ints per vector + the cell partition key —
    * a query reads nProbe/k of the corpus via partition pruning AND only m
    * bytes per vector read. Nothing corpus-sized ever reaches the driver. */
  def buildIvfPqIndex(emb: DataFrame, dir: String, k: Int = 16, iters: Int = 5,
                      m: Int = 8, kSub: Int = 32): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centers = kmeansCentroids(emb, k, iters)
    val bc = spark.sparkContext.broadcast(centers)
    // residual stream — kept float like the input column so training and
    // encoding see bit-identical coordinates regardless of partitioning
    val resid = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, e) =>
        val cell = nearestCell(bc.value, e)
        val c = bc.value(cell)
        val r = new Array[Float](e.length)
        var i = 0
        while (i < e.length) { r(i) = (e(i) - c(i)).toFloat; i += 1 }
        (id, r, cell)
      }.toDF("vec_id", "embedding", "cell").cache()
    val books = pqTrain(resid.select("vec_id", "embedding"), m, kSub, iters)
    val bb = spark.sparkContext.broadcast(books)
    val sub = books.head.head.length
    resid.as[(Long, Array[Float], Int)].map { case (id, r, cell) =>
        val bs = bb.value
        val codes = new Array[Int](bs.length)
        var mi = 0
        while (mi < bs.length) {
          val s = new Array[Double](sub)
          var i = 0
          while (i < sub) { s(i) = r(mi * sub + i); i += 1 }
          codes(mi) = nearestCellD(bs(mi), s)
          mi += 1
        }
        (id, codes, cell)
      }.toDF("vec_id", "codes", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    resid.unpersist()
    centers.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    books.zipWithIndex.flatMap { case (book, mi) =>
        book.zipWithIndex.map { case (c, ci) => (mi, ci, c) }
      }.toSeq.toDF("mi", "ci", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/books")
  }

  /** Append new vectors to a [[buildIvfPqIndex]] snapshot WITHOUT
    * retraining — the IVF-PQ serving-update path, same operational trade as
    * [[appendIvfSqIndex]]: new vectors are assigned to the STORED coarse
    * centroids and their residuals encoded against the STORED codebooks,
    * then appended to the matching cell partitions. Queries stay correct
    * immediately (a probe scans whole cells); recall decays only with
    * distribution drift, and the periodic rebuild retrains both quantizer
    * levels. One narrow map + a partitioned append; nothing rewritten. */
  def appendIvfPqIndex(emb: DataFrame, dir: String): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    // an empty append batch is a no-op
    val first = vecs.take(1)
    if (first.isEmpty) return
    val centers = spark.read.parquet(s"$dir/centroids")
      .as[(Int, Array[Double])].collect().sortBy(_._1).map(_._2)
    val books = spark.read.parquet(s"$dir/books")
      .as[(Int, Int, Array[Double])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
    val bc = spark.sparkContext.broadcast(centers)
    val bb = spark.sparkContext.broadcast(books)
    val sub = books.head.head.length
    // fail fast on the driver: a dim-mismatched append would otherwise die
    // mid-job with an opaque AIOOBE inside an executor task (short vectors)
    // or silently score tail dims against shorter centroids (long vectors)
    val dim = first.head._2.length
    require(dim == centers.head.length && dim == books.length * sub,
      s"appendIvfPqIndex: embedding dim $dim does not match the stored index " +
        s"(coarse dim ${centers.head.length}, m=${books.length} x sub=$sub)")
    vecs
      .map { case (id, e) =>
        val cell = nearestCell(bc.value, e)
        val c = bc.value(cell)
        val bs = bb.value
        val codes = new Array[Int](bs.length)
        var mi = 0
        while (mi < bs.length) {
          val s = new Array[Double](sub)
          var i = 0
          while (i < sub) { s(i) = (e(mi * sub + i) - c(mi * sub + i)).toFloat; i += 1 }
          codes(mi) = nearestCellD(bs(mi), s)
          mi += 1
        }
        (id, codes, cell)
      }.toDF("vec_id", "codes", "cell")
      .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
  }

  /** Query a [[buildIvfPqIndex]] snapshot: rank cells by centroid distance
    * (driver-trivial), scan ONLY the probed cell partitions, and rank by the
    * asymmetric-distance cosine against the reconstruction
    * x̂ = centroid_cell + r̂. The cosine decomposes into LUT lookups:
    *   dot(q, x̂)  = dot(q, c) + Σ_mi lutQ(mi, code)
    *   ‖x̂‖²       = ‖c‖² + Σ_mi (2·lutC(cell, mi, code) + lutN(mi, code))
    * where lutQ/lutN are cell-independent and lutC (centroid×book cross
    * terms) is k·m·kSub doubles total — all driver-built from the stored
    * sidecar tables and broadcast; the scan does 3m lookups per vector. */
  def ivfPqIndexTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                     query: Array[Float], kTop: Int, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val centers = spark.read.parquet(s"$dir/centroids")
      .as[(Int, Array[Double])].collect().sortBy(_._1)
    val books = spark.read.parquet(s"$dir/books")
      .as[(Int, Int, Array[Double])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
    val m = books.length
    val sub = books.head.head.length
    val q = query.map(_.toDouble)
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    def dotAt(mi: Int, v: Array[Double], c: Array[Double]): Double = {
      var d = 0.0
      var i = 0
      while (i < sub) { d += v(mi * sub + i) * c(i); i += 1 }
      d
    }
    val probes = centers.map { case (cell, c) =>
      var d = 0.0
      var j = 0
      while (j < q.length) { val x = q(j) - c(j); d += x * x; j += 1 }
      (cell, d)
    }.sortBy { case (cell, d) => (d, cell) }.take(nProbe).map(_._1)
    val lutQ = Array.tabulate(m)(mi => books(mi).map(c => dotAt(mi, q, c)))
    val lutN = books.map(_.map(c => c.map(x => x * x).sum))
    val cellScalars = probes.map { cell =>
      val c = centers(cell)._2
      cell -> ((q.zip(c).map { case (a, b) => a * b }.sum, c.map(x => x * x).sum))
    }.toMap
    val lutC = probes.map { cell =>
      val c = centers(cell)._2
      cell -> Array.tabulate(m)(mi => books(mi).map(b => dotAt(mi, c, b)))
    }.toMap
    val bcQ = spark.sparkContext.broadcast((lutQ, lutN, cellScalars, lutC, qNorm))
    spark.read.parquet(s"$dir/codes")
      .where(col("cell").isin(probes.toSeq: _*))
      .select(col("vec_id"), col("codes"), col("cell"))
      .as[(Long, Array[Int], Int)]
      .map { case (id, codes, cell) =>
        val (lq, ln, sc, lc, qn) = bcQ.value
        val (qc, cc) = sc(cell)
        val lcc = lc(cell)
        var dot = qc
        var nrm = cc
        var mi = 0
        while (mi < codes.length) {
          val ci = codes(mi)
          dot += lq(mi)(ci)
          nrm += 2.0 * lcc(mi)(ci) + ln(mi)(ci)
          mi += 1
        }
        (id, math.rint(dot / (qn * math.sqrt(nrm)) * 1e4) / 1e4)
      }.toDF("vec_id", "cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(kTop)
  }

  // --- V6: batched ANN (many queries, ONE corpus pass) ----------------------

  /** Bounded top-k Aggregator: the buffer never exceeds k entries, so the
    * partial (map-side) aggregation state is k rows per (partition, query) —
    * the whole point vs a rank window, whose exchange carries every scored
    * (query × corpus) row. Ties break on vec_id ascending, matching the
    * single-query operators. */
  private class TopKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[ScoredVec, Seq[ScoredVec], Seq[ScoredVec]] {
    private def trim(xs: Seq[ScoredVec]): Seq[ScoredVec] =
      xs.sortBy(s => (-s.cos, s.vec_id)).take(k)
    def zero: Seq[ScoredVec] = Nil
    def reduce(b: Seq[ScoredVec], a: ScoredVec): Seq[ScoredVec] =
      if (b.size >= k && a.cos < b.last.cos) b else trim(b :+ a)
    def merge(a: Seq[ScoredVec], b: Seq[ScoredVec]): Seq[ScoredVec] = trim(a ++ b)
    def finish(r: Seq[ScoredVec]): Seq[ScoredVec] = trim(r)
    def bufferEncoder: org.apache.spark.sql.Encoder[Seq[ScoredVec]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredVec]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[ScoredVec]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredVec]]()
  }

  /** V6: batched brute ANN — exact cosine top-k for EVERY query id in ONE
    * corpus pass. The batch-serving shape at 100 TB: Q queries broadcast
    * (Q × dim floats), the corpus is scanned once and each row scores
    * against all queries in-register; per-query top-k runs through a
    * BOUNDED Aggregator whose map-side partial state is k rows per query
    * per partition — the exchange carries partitions × Q × k buffered rows,
    * never the Q × N scored stream a rank-window plan would shuffle.
    * Returns (q_id, vec_id, cos, rnk) with rank 1..k per query.
    * Composes with the IVF family: probe-restrict the scan per cell set
    * for IVF-batch. */
  def annTopKBatch(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val topk = udaf(new TopKAgg(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[ScoredVec]())
    emb.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), round(cosine(col("embedding"), col("q_emb")), 4).as("cos"),
        col("vec_id"))
      .groupBy("q_id")
      .agg(topk(col("cos"), col("vec_id")).as("topk"))
      .select(col("q_id"), posexplode(col("topk")).as(Seq("i", "s")))
      .select(col("q_id"), col("s.vec_id").as("vec_id"), col("s.cos").as("cos"),
        (col("i") + 1).cast("long").as("rnk"))
      .orderBy("q_id", "rnk")
  }
}
