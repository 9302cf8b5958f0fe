package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.GraftTable

/** Persisted IVF (inverted-file) similarity index over an embedding
  * column — the build-once/query-many counterpart of the per-query ANN
  * paths in VectorOps (v05 exercises the same coarse-quantize shape
  * inline; a production corpus builds the index once and serves many
  * probes).
  *
  * Design for 100 TB:
  *  - BUILD: k-means centroids via MLlib (distributed, few passes over
  *    a sampled fraction), then ONE pass assigns every vector to its
  *    nearest centroid; assignments land in a GraftTable whose files
  *    are clustered by `cent_id` (compact(clusterBy)), so per-file
  *    min/max stats make centroid probes file-pruned IO — the inverted
  *    list without any bespoke index format.
  *  - QUERY: score centroids on the driver (centroids are metadata-
  *    sized: nCentroids x dim floats), take the best `nprobe`, then
  *    brute-force cosine ONLY inside the probed cells via the codegen'd
  *    vector_dot kernel. Recall/latency trades on nprobe exactly as in
  *    FAISS-style IVF-Flat.
  */
object VectorIndex {

  /** Build the index: centroids parquet + clustered assignment table.
    *
    * `pqSubspaces = Some(m)` additionally trains a per-subspace product-
    * quantization codebook ([[VectorOps.pqCodebookTrained]], `pqCodewords`
    * centroids per subspace) and persists the 8-byte-per-vector codes as
    * a GraftTable `bucket(codeBuckets, cent_id)` — the FAISS inverted-
    * list layout expressed relationally (round 13, SCALE.md (x)): a
    * [[VectorIndex.searchPq]] probe statically prunes the codes scan to
    * its probed cells' buckets, so a query reads probed-cells/k of the
    * codes table and never touches a full-precision vector. */
  def build(spark: SparkSession, embeddings: DataFrame, root: String,
            nCentroids: Int = 64, seed: Long = 42L,
            pqSubspaces: Option[Int] = None, pqCodewords: Int = 256,
            codeBuckets: Int = 32): VectorIndex = {
    graft.functions.GraftFunctions.register(spark)
    // L2-normalize BEFORE training (spherical k-means approximation):
    // MLlib's k-means minimizes EUCLIDEAN distance, but index probes
    // assign by COSINE — on unnormalized vectors the trained cells
    // optimize the wrong geometry (measured: 2-probe recall@3 0.33 vs
    // 0.60 for cosine-aligned cells at the gate scale). On the unit
    // sphere euclidean and cosine orderings coincide, so the centroid
    // directions are what cosine assignment needs.
    val toVec = udf { (a: Seq[Float]) =>
      val n = math.sqrt(a.map(x => x.toDouble * x).sum) max 1e-30
      Vectors.dense(a.map(_.toDouble / n).toArray)
    }
    val feat = embeddings.select(col("vec_id"), col("embedding"),
      toVec(col("embedding")).as("features"))
    val model = new KMeans().setK(nCentroids).setSeed(seed).setMaxIter(10)
      .fit(feat)
    // int8 codes stored WITH the assignment (the production IVF-PQ-lite
    // shape v07 demos) — THE shared quantization spelling
    // ([[VectorOps.withInt8Codes]]), so the stored codes and the inline
    // v06/v07 entries can never drift on the rounding rule
    val assigned = VectorOps.withInt8Codes(
      model.transform(feat)
        .select(col("vec_id"), col("embedding"),
          col("prediction").cast("long").as("cent_id"),
          expr("vector_dot(embedding, embedding)").as("n2")),
      "embedding")
    val table = GraftTable.create(spark, s"$root/assignments", assigned)
    // cluster the physical layout on cent_id: probes now prune files
    table.compact(clusterBy = Seq("cent_id"),
      numFiles = Some(math.max(2, nCentroids / 8)))
    val cents = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.map(_.toFloat).toSeq)
    }
    import spark.implicits._
    cents.toSeq.toDF("cent_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
    pqSubspaces.foreach { m =>
      val dim = model.clusterCenters.head.size
      val vecsDf = assigned
        .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      val cb = VectorOps.pqCodebookTrained(vecsDf, dim, m, pqCodewords, seed)
      cb.coalesce(1).write.mode("overwrite").parquet(s"$root/pq_codebook")
      val codes = VectorOps.pqEncode(vecsDf, cb, dim, m)
        .join(assigned.select(col("vec_id"), col("cent_id")), Seq("vec_id"))
        .select(col("cent_id"), col("vec_id"), col("j"),
          col("c").cast("int").as("c"))
      GraftTable.create(spark, s"$root/pq_codes", codes,
        bucketBy = Some(("cent_id", codeBuckets)))
    }
    new VectorIndex(spark, root)
  }

  def load(spark: SparkSession, root: String): VectorIndex =
    new VectorIndex(spark, root)
}

/** A HANDLE over the on-disk index at `root`. Index METADATA —
  * centroids, the PQ codebook, PQ presence — is immutable-by-contract
  * and cached for the handle's lifetime (the serving path must not pay
  * a parquet read per query); table DATA (assignments, codes) is read
  * through GraftTable and sees appends live. Consequence (r13 advice):
  * REBUILDING the index in place (`VectorIndex.build` over the same
  * root with different centroids/PQ params) invalidates every live
  * handle — a stale handle would encode appends and probe cells with
  * the OLD codebook. Rebuild = call `VectorIndex.load` for a fresh
  * handle and drop the old one; `append`/`maintain` through one handle
  * are always consistent. */
final class VectorIndex private[operators] (spark: SparkSession, root: String) {

  private lazy val table = GraftTable.load(spark, s"$root/assignments")
  /** nCentroids x dim — metadata-sized, driver-resident by design. */
  private lazy val centroids: Array[(Long, Array[Float])] =
    spark.read.parquet(s"$root/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Top-k cosine neighbors of `query`, probing the `nprobe` best
    * cells. The scan is file-pruned to the probed cells via the
    * clustered layout's stats. */
  def search(query: Array[Float], k: Int, nprobe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val probes = probeCells(query, nprobe)
    val qLit = query.map(x => s"CAST($x AS FLOAT)").mkString("array(", ",", ")")
    val qn2 = query.map(x => x.toDouble * x).sum
    table.read(filters = Seq(col("cent_id").isin(probes.toIndexedSeq: _*)))
      // a zero vector's cosine is 0/0 = NaN, which descending order
      // sorts ABOVE every real score — exclude undefined directions
      .filter(col("n2") > 0)
      .selectExpr("vec_id", "cent_id",
        s"vector_dot(embedding, $qLit) / (SQRT(n2) * SQRT($qn2)) AS cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** As [[search]], but scoring the stored INT8 codes — the production
    * shape at 100 TB: the probed cells' scan reads the 4x-smaller code
    * column instead of the float embeddings, the dots are exact integer
    * arithmetic, and cell selection stays float (centroids are
    * metadata-sized; assignment quality sets recall). The query is
    * quantized with the index's own rule so both sides share the
    * rounding. */
  def searchQuantized(query: Array[Float], k: Int, nprobe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // loud, actionable error for a pre-quantization index on disk (the
    // alternative is an UNRESOLVED_COLUMN deep inside the scan)
    require(table.schema.fieldNames.contains("q"),
      s"index at $root predates stored int8 codes — rebuild with VectorIndex.build " +
        "to use searchQuantized (float search() still works)")
    val probes = probeCells(query, nprobe)
    val scale = math.max(query.map(x => math.abs(x.toDouble)).max, 1e-30) / 127.0
    val qq = query.map(x => math.floor(x.toDouble / scale + 0.5).toInt)
    val qqn2 = qq.map(x => x.toDouble * x).sum
    val qLit = qq.mkString("array(", ",", ")")
    table.read(filters = Seq(col("cent_id").isin(probes.toIndexedSeq: _*)))
      // zero quantized norm = undefined direction = NaN cosine, which
      // would sort above every real score in descending order
      .filter(col("qn2") > 0)
      .selectExpr("vec_id", "cent_id",
        s"CAST(aggregate(zip_with(q, $qLit, (x, y) -> x * y), 0, (acc, x) -> acc + x) AS DOUBLE)" +
          s" / (SQRT(qn2) * SQRT($qqn2)) AS qcos")
      .orderBy(col("qcos").desc, col("vec_id"))
      .limit(k)
  }

  /** As [[searchQuantized]], but over the PQ codes table — the full
    * 100 TB serving shape (round 13): cell selection on driver-resident
    * centroids, the per-query ADC lookup table computed DRIVER-side
    * from the metadata-sized codebook (m × codewords × w doubles) and
    * broadcast, and the codes scan statically pruned to the probed
    * cells' buckets (the table is `bucket(n, cent_id)`; GraftTable.read
    * prunes bucket files on the IN conjunct). A query therefore reads
    * ~nprobe/k of an 8-byte-per-vector table and touches no
    * full-precision vector anywhere. Returns (vec_id, cent_id, adc)
    * ascending by ADC (approximate squared L2 — smaller is closer).
    *
    * `refine > 0` (round 14, the standard serving pattern): ADC scores
    * are approximate, so the top-`refine` PQ candidates (refine >= k)
    * are RE-RANKED against their full-precision vectors — fetched from
    * the assignments table with the SAME cent_id probe filter (file-
    * pruned by the clustered layout) and a broadcast semi-join on the
    * candidate ids, so the refine step is CANDIDATE-sized (refine
    * rows), never cell- or corpus-sized. A refined search returns
    * (vec_id, cent_id, cos) descending by exact cosine — the ADC
    * column is gone because the scores it carried were only a routing
    * approximation. */
  def searchPq(query: Array[Float], k: Int, nprobe: Int = 4,
               refine: Int = 0): DataFrame = {
    if (refine > 0) {
      require(refine >= k,
        s"searchPq: refine ($refine) must be >= k ($k) — it is the PQ candidate pool the exact re-rank draws from")
      val cands = searchPq(query, refine, nprobe).select(col("vec_id"))
      val probes = probeCells(query, nprobe)
      val qLit = query.map(x => s"CAST($x AS FLOAT)").mkString("array(", ",", ")")
      val qn2 = query.map(x => x.toDouble * x).sum
      return table.read(filters = Seq(col("cent_id").isin(probes.toIndexedSeq: _*)))
        .filter(col("n2") > 0)
        .join(broadcast(cands), Seq("vec_id"), "left_semi")
        .selectExpr("vec_id", "cent_id",
          s"vector_dot(embedding, $qLit) / (SQRT(n2) * SQRT($qn2)) AS cos")
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(k)
    }
    graft.functions.GraftFunctions.register(spark)
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/pq_codebook")),
      s"index at $root has no PQ layer — rebuild with VectorIndex.build(..., " +
        "pqSubspaces = Some(m)) to use searchPq (search()/searchQuantized() still work)")
    val probes = probeCells(query, nprobe)
    val w = pqW
    val lut = pqCodebook.map { case (j, c, cw) =>
      var dd = 0.0
      var i = 0
      while (i < w) {
        val d = query(j * w + i).toDouble - cw(i)
        dd += d * d
        i += 1
      }
      (j, c.toInt, dd)
    }
    import spark.implicits._
    val lutDf = lut.toSeq.toDF("j", "c", "dd")
    codesTable.read(filters = Seq(col("cent_id").isin(probes.toIndexedSeq: _*)))
      .join(broadcast(lutDf), Seq("j", "c"))
      .groupBy(col("vec_id"), col("cent_id"))
      .agg(sum(col("dd")).as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cent_id"), col("adc"))
  }

  private lazy val codesTable = GraftTable.load(spark, s"$root/pq_codes")

  /** The PQ codebook is IMMUTABLE index metadata (m x codewords x w
    * doubles) — collected once and cached like [[centroids]]; the
    * serving path must not pay a parquet read per query (r13 review). */
  private lazy val pqCodebook: Array[(Int, Long, Array[Double])] =
    spark.read.parquet(s"$root/pq_codebook").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
  private lazy val pqM: Int = pqCodebook.iterator.map(_._1).max + 1
  private lazy val pqW: Int = pqCodebook.head._3.length
  /** The same codebook as a (local, broadcastable) relation for
    * [[VectorOps.pqEncode]]'s join — built from the cached rows, no
    * re-read per append/micro-batch. */
  private lazy val pqCodebookDf: DataFrame = {
    import spark.implicits._
    pqCodebook.toSeq.map { case (j, c, cw) => (j, c, cw.toSeq) }.toDF("j", "c", "cw")
  }

  /** Cached like [[pqCodebook]] (one consistent snapshot per handle —
    * a def here would let a concurrent in-place rebuild flip PQ
    * presence mid-handle while the codebook stayed stale, r13 advice). */
  private lazy val hasPq: Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/pq_codebook"))

  /** Append new vectors incrementally — the INGEST path of a built
    * index (round 13). Cells are never retrained: each vector is
    * assigned to its nearest existing centroid by COSINE — the same
    * rule [[probeCells]] applies at query time, so an appended vector
    * lives in exactly the cell a query probes for it (k-means quality
    * degrades gracefully as the corpus drifts; rebuild when recall
    * says so). int8 codes use the shared rounding
    * ([[VectorOps.withInt8Codes]]); when the index carries a PQ layer
    * the new vectors are encoded against the PERSISTED codebook and
    * appended to the bucketed codes table — appends route through the
    * store's bucket-clustered writer, so [[searchPq]]'s static pruning
    * survives ingestion forever.
    *
    * `op` (`opFamily` followed by a micro-batch id) labels the commits
    * for exactly-once streaming replays: each table dedups
    * independently ([[GraftTable.BatchLabel]]), so a crash between the
    * two appends re-applies only the missing one. Input needs
    * (vec_id, embedding); duplicate vec_ids are the caller's contract.
    * Returns the number of vectors appended — 0 when EVERY table
    * dedup'd the label (a full replay; a partial crash-recovery replay
    * that re-applies one table still returns the batch size). */
  def append(newVectors: DataFrame, op: Option[String] = None,
             opFamily: Option[String] = None): Long = {
    val label = GraftTable.BatchLabel.of(op, opFamily)
    val tables = table +: (if (hasPq) Seq(codesTable) else Nil)
    if (label.exists(l => tables.forall(_.hasCommitted(l)))) return 0L // full replay: no job
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val centsDf = broadcast(
      centroids.toSeq.map { case (id, c) => (id, c.toSeq) }.toDF("cent_id", "c0")
        .selectExpr("cent_id", "transform(c0, x -> CAST(x AS DOUBLE)) AS vc")
        .selectExpr("cent_id", "vc", "vector_dot(vc, vc) AS nc2"))
    val assignedNew = VectorOps.withInt8Codes(
      newVectors.select(col("vec_id"), col("embedding"))
        .withColumn("n2", expr("coalesce(vector_dot(embedding, embedding), 0D)"))
        .crossJoin(centsDf)
        .selectExpr("vec_id", "embedding", "n2", "cent_id",
          "vector_dot(embedding, vc) / (SQRT(n2) * SQRT(nc2)) AS ccos")
        .groupBy(col("vec_id"))
        .agg(expr("arg_max_by(struct(embedding, n2, cent_id), struct(ccos, -cent_id))")
          .as("__w"))
        .select(col("vec_id"), col("__w.embedding").as("embedding"),
          col("__w.cent_id").as("cent_id"), col("__w.n2").as("n2")),
      "embedding")
      .localCheckpoint() // assignments append + PQ encode read ONE computation
    val n = assignedNew.count()
    var anyApplied = table.appendLabeled(assignedNew, label)
    if (hasPq) {
      val codes = VectorOps.pqEncode(
          assignedNew.selectExpr("vec_id",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"),
          pqCodebookDf, dim = pqM * pqW, m = pqM)
        .join(assignedNew.select(col("vec_id"), col("cent_id")), Seq("vec_id"))
        .select(col("cent_id"), col("vec_id"), col("j"), col("c").cast("int").as("c"))
      anyApplied = codesTable.appendLabeled(codes, label) || anyApplied
    }
    if (anyApplied) n else 0L
  }

  /** Maintenance after a stretch of appends (round 13): re-cluster the
    * assignments layout on cent_id (each append lands its own files,
    * so probe-time file pruning decays until a re-layout) and plain-
    * compact the PQ codes table (bucket-PRESERVING by the store's
    * contract — one file per occupied bucket, searchPq's static
    * pruning intact). Idempotent; run on the ingest cadence, like the
    * near-dup index's small-file sweep. */
  def maintain(): Unit = {
    table.compact(clusterBy = Seq("cent_id"),
      numFiles = Some(math.max(2, centroids.length / 8)))
    if (hasPq) codesTable.compact()
  }

  private def probeCells(query: Array[Float], nprobe: Int): Array[Long] =
    centroids.sortBy { case (_, c) => -cosine(query, c) }.take(nprobe).map(_._1)
}
