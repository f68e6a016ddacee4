package graft.operators

import graft.core.VecOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (Array[Float]/Array[Double]). Training-data-pipeline extension (not in
 * the reference). Three tiers:
 *
 *  - `bruteForceTopK`: exact cosine top-k. The query set is broadcast
 *    (it is small by construction); the corpus is scanned once, fully
 *    parallel, no shuffle except the per-query top-k — correct baseline
 *    at any corpus size, cost O(|corpus| * |queries| * d).
 *  - `lshBuckets` + `lshTopK`: random-hyperplane signatures; only
 *    bucket-colliding candidates are scored. The scale path: candidate
 *    generation is a hash join on the signature.
 *  - `ivfTopK`: inverted-file — corpus partitioned by nearest coarse
 *    centroid, queries probe only the nprobe nearest cells.
 *
 * The cosine kernel is built-in higher-order functions (zip_with +
 * aggregate), fully codegen'd — no UDF in the hot path.
 */
object Similarity {

  /** Cosine similarity between two array columns, in doubles. The kernel
    * has climbed the whole preference ladder on measurement: zip_with +
    * aggregate (interpreted-lambda overhead per element, 14.8s at 100x),
    * then a fused-loop ScalaUDF (~1s, but boxing both arrays to
    * Seq[Double] per candidate pair), now a native codegen'd Catalyst
    * expression ([[graft.functions.CosineSimilarity]]) reading ArrayData
    * primitives in place inside whole-stage codegen. Identical fold order
    * and null semantics at every step — the ANN oracles pin bit-equality. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /**
   * Per-query top-k over scored candidate rows — the TakeOrderedAndProject
   * pattern per key, replacing the old `row_number().over(partitionBy
   * (qid))` which shuffled EVERY scored candidate into |queries| tasks
   * (the bottleneck at 1B vectors x 1k queries). Each input partition
   * keeps a bounded heap per query (<= k entries), so the shuffle carries
   * at most k * nPartitions rows per query; a typed merge then takes the
   * global top-k. Ranking is on (round(score, 4) desc, id asc) —
   * deterministic under float noise — and the rounding happens in a
   * Catalyst expression BEFORE the kernel, so the JVM side only compares
   * doubles and stays bit-identical to the old window form. Ids are
   * compared (and grouped) as longs; original column types are restored
   * on output.
   */
  private[graft] def topKPerQuery(scored: DataFrame, qidCol: String, idCol: String,
                                  k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val qidType = scored.schema(qidCol).dataType
    val idType = scored.schema(idCol).dataType
    val triples = scored.select(col(qidCol).cast(LongType), col(idCol).cast(LongType),
      round(col("score"), 4).cast(DoubleType)).as[(Long, Long, Double)]
    // "worse" = smaller rounded score, then larger id; heap head = worst kept
    val worstFirst: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
      def compare(a: (Long, Double), b: (Long, Double)): Int = {
        val c = java.lang.Double.compare(b._2, a._2)
        if (c != 0) c else java.lang.Long.compare(a._1, b._1)
      }
    }
    val partial = triples.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.PriorityQueue[(Long, Double)]]
      it.foreach { case (qid, id, r) =>
        val h = heaps.getOrElseUpdate(qid,
          scala.collection.mutable.PriorityQueue.empty[(Long, Double)](worstFirst))
        if (h.size < k) h.enqueue((id, r))
        else if (worstFirst.compare((id, r), h.head) < 0) { h.dequeue(); h.enqueue((id, r)) }
      }
      heaps.iterator.flatMap { case (qid, h) => h.iterator.map(c => (qid, c._1, c._2)) }
    }
    val merged = partial.groupByKey(_._1).flatMapGroups { (qid, rows) =>
      rows.map(t => (t._2, t._3)).toArray
        .sorted(worstFirst) // ascending "worseness" = best first
        .take(k).iterator.zipWithIndex
        .map { case ((id, r), i) => (qid, id, i + 1, r) }
    }
    merged.toDF(qidCol, idCol, "rank", "score")
      .withColumn(qidCol, col(qidCol).cast(qidType))
      .withColumn(idCol, col(idCol).cast(idType))
  }

  /** Exact top-k by cosine for each query row. Queries: (qid, qvec). */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int): DataFrame = {
    val joined = corpus.crossJoin(broadcast(queries))
      .filter(col(qidCol) =!= col(idCol))
      .withColumn("score", cosine(col(qvecCol), col(vecCol)))
    topKPerQuery(joined, qidCol, idCol, k)
  }

  /**
   * Hard-negative mining for contrastive/metric training data: for each
   * anchor, the top-k most-similar corpus vectors carrying a DIFFERENT
   * label — the negatives that actually move an embedding model, as
   * opposed to random negatives a trained model already separates.
   * Same scale shape as [[bruteForceTopK]]: anchors broadcast (anchor
   * sets are small by construction), one corpus scan, bounded
   * per-partition top-k heaps; the label test rides the same scan.
   */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, anchors: DataFrame, qidCol: String,
                    qvecCol: String, qlabelCol: String, k: Int): DataFrame = {
    val joined = corpus.crossJoin(broadcast(anchors))
      .filter(col(qidCol) =!= col(idCol) && col(qlabelCol) =!= col(labelCol))
      .withColumn("score", cosine(col(qvecCol), col(vecCol)))
    topKPerQuery(joined, qidCol, idCol, k)
  }

  /** Seeded random hyperplanes. Components are md5-derived uniforms in
    * [-1, 1) rather than JVM RNG gaussians: h = md5("hp_seed_bit_dim")
    * mod p, w = 2h/p - 1 — reproducible from any engine (the DuckDB
    * oracle recomputes the identical planes), partition-independent, and
    * for sign LSH a symmetric cube distribution separates angles just as
    * a gaussian does in practice. */
  def hyperplanes(nbits: Int, dims: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(nbits)(b => Array.tabulate(dims)(d =>
      2.0 * (Dedup.md5LongJvm(s"hp_${seed}_${b}_${d}") % Dedup.P).toDouble / Dedup.P - 1.0))

  /** Sign-pattern LSH signature as a long bucket id. */
  def lshBuckets(df: DataFrame, vecCol: String, planes: Array[Array[Double]]): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(planes)
    val sigUdf = udf { (v: Seq[Double]) =>
      val arr = v.toArray
      var sig = 0L
      var i = 0
      while (i < bc.value.length) {
        if (VecOps.dot(arr, bc.value(i)) >= 0) sig |= (1L << i)
        i += 1
      }
      sig
    }
    df.withColumn("bucket", sigUdf(col(vecCol).cast(ArrayType(DoubleType))))
  }

  /** ANN top-k searching only same-bucket candidates. */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, nbits: Int, dims: Int, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nbits, dims, seed)
    val cb = lshBuckets(corpus, vecCol, planes)
    val qb = lshBuckets(queries, qvecCol, planes).withColumnRenamed("bucket", "qbucket")
    val joined = cb.join(broadcast(qb), col("bucket") === col("qbucket") &&
        col(qidCol) =!= col(idCol))
      .withColumn("score", cosine(col(qvecCol), col(vecCol)))
    topKPerQuery(joined, qidCol, idCol, k)
  }

  /**
   * Per-vector symmetric int8 quantization: scale = max|x|/127, codes =
   * round(x/scale) in [-127, 127] (zero vectors keep scale 0 and all-zero
   * codes). The 100 TB ANN memory lever: a 64-dim float32 corpus drops
   * 4x to one byte per dim + one float scale, and dot products on codes
   * approximate the real ones to ~1% — good enough for candidate
   * generation, with exact re-scoring on the float column for the top-k.
   * Pure codegen'd expressions.
   */
  /**
   * Per-dimension embedding column health stats: mean and population
   * variance of every coordinate — the drift/degenerate-dimension check
   * a pipeline runs before trusting an embedding table (a collapsed
   * dimension has ~zero variance; a mis-scaled batch shifts means).
   * Engine-exact: each coordinate (and its square) is truncated to a
   * fixed decimal scale once, then summed exactly — reduction order
   * can't move the result — with one fixed-order double division chain
   * at the end.
   *
   * Scale shape (100 TB): posexplode to (dim, value) then a d-group hash
   * agg — partial aggregation reduces each partition to d cells before
   * the shuffle, so the exchange carries O(d x partitions) rows, never
   * data. Output: (dim, n, mean, variance), d rows.
   */
  def embeddingStats(df: DataFrame, vecCol: String): DataFrame = {
    val sumV = sum(col("__v").cast("decimal(28,12)"))
    val sumSq = sum((col("__v") * col("__v")).cast("decimal(28,12)"))
    df.select(posexplode(col(vecCol)).as(Seq("dim", "__f")))
      .select(col("dim"), col("__f").cast(DoubleType).as("__v"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sumV.as("__s"), sumSq.as("__sq"))
      .select(col("dim"), col("n"),
        round(col("__s").cast(DoubleType) / col("n"), 6).as("mean"),
        round(col("__sq").cast(DoubleType) / col("n")
          - (col("__s").cast(DoubleType) / col("n"))
            * (col("__s").cast(DoubleType) / col("n")), 6).as("variance"))
  }

  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol).cast(ArrayType(DoubleType))
    val scale = aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0
    df.withColumn("scale", scale)
      .withColumn("codes", when(col("scale") > 0,
        transform(v, x => round(x / col("scale")).cast("tinyint")))
        .otherwise(transform(v, _ => lit(0).cast("tinyint"))))
  }

  /** IVF coarse cells: seeded sample of corpus vectors as centroids. */
  def ivfCentroids(corpus: DataFrame, vecCol: String, cells: Int, seed: Long): Array[Array[Double]] = {
    import org.apache.spark.sql.Encoders
    corpus.select(col(vecCol).cast(ArrayType(DoubleType)))
      .map(_.getSeq[Double](0).toArray)(Encoders.kryo[Array[Double]])
      .rdd.takeSample(withReplacement = false, cells, seed)
  }

  /** Lloyd-refined coarse quantizer: random seeds + a few k-means rounds
    * over the blockified corpus (one treeAggregate per round — the same
    * cached-block iteration shape as FCM). Balanced cells beat raw random
    * seeds on probe recall; empty cells keep their previous centroid. */
  def kmeansCentroids(corpus: DataFrame, vecCol: String, cells: Int,
                      iters: Int, seed: Long): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = corpus.select(col(vecCol).cast(ArrayType(DoubleType)))
      .as[Array[Double]].rdd
    var centroids = rows.takeSample(withReplacement = false, cells, seed)
    if (centroids.isEmpty) return centroids
    val blocks = FCM.blockify(rows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val k = centroids.length
      val dims = centroids(0).length
      var it = 0
      while (it < iters) {
        val bc = spark.sparkContext.broadcast(centroids)
        val (sums, counts) = blocks.treeAggregate(
          (Array.fill(k)(new Array[Double](dims)), new Array[Long](k)))(
          seqOp = { case ((s, c), (n, flat)) =>
            var r = 0
            while (r < n) {
              var best = 0; var bestD = Double.MaxValue
              var i = 0
              while (i < k) {
                var d = 0.0; var j = 0
                while (j < dims) {
                  val t = flat(r * dims + j) - bc.value(i)(j); d += t * t; j += 1
                }
                if (d < bestD) { bestD = d; best = i }
                i += 1
              }
              var j = 0
              while (j < dims) { s(best)(j) += flat(r * dims + j); j += 1 }
              c(best) += 1
              r += 1
            }
            (s, c)
          },
          combOp = { case ((s1, c1), (s2, c2)) =>
            var i = 0
            while (i < k) {
              VecOps.axpy(1.0, s2(i), s1(i)); c1(i) += c2(i); i += 1
            }
            (s1, c1)
          })
        bc.destroy()
        centroids = Array.tabulate(k) { i =>
          if (counts(i) == 0L) centroids(i) else VecOps.scal(1.0 / counts(i), sums(i))
        }
        it += 1
      }
      centroids
    } finally blocks.unpersist(blocking = true)
  }

  /** ANN top-k probing the nprobe nearest coarse cells per query.
    * trainIters > 0 refines the coarse quantizer with Lloyd rounds;
    * `initCentroids` bypasses sampling entirely (deterministic cells —
    * the oracle-checkable path). */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, cells: Int, nprobe: Int, seed: Long = 42L,
              trainIters: Int = 0,
              initCentroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val centroids = initCentroids.getOrElse(
      if (trainIters > 0) kmeansCentroids(corpus, vecCol, cells, trainIters, seed)
      else ivfCentroids(corpus, vecCol, cells, seed))
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast(centroids)
    val cellUdf = udf { (v: Seq[Double]) =>
      val arr = v.toArray
      var best = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < bc.value.length) {
        val d = VecOps.sqDist(arr, bc.value(i))
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }
    val probeUdf = udf { (v: Seq[Double]) =>
      val arr = v.toArray
      bc.value.indices.map(i => (VecOps.sqDist(arr, bc.value(i)), i))
        .sorted.take(nprobe).map(_._2)
    }
    val cb = corpus.withColumn("cell", cellUdf(col(vecCol).cast(ArrayType(DoubleType))))
    val qb = queries.withColumn("cell",
      explode(probeUdf(col(qvecCol).cast(ArrayType(DoubleType)))))
    val joined = cb.join(broadcast(qb), Seq("cell"))
      .filter(col(qidCol) =!= col(idCol))
      .withColumn("score", cosine(col(qvecCol), col(vecCol)))
    topKPerQuery(joined, qidCol, idCol, k)
  }

  /**
   * Per-label embedding centroids: mean vector of each label class —
   * the monitoring primitive for labeled embedding tables (class drift,
   * mislabel detection). One posexplode + one partial-aggregated
   * (label, dim) mean, reassembled into an ordered array per label;
   * per-dim sums run in DECIMAL so engine/partitioning reduction order
   * cannot perturb the means — at scale 12, NOT higher: a double's
   * shortest decimal representation carries <= 17 significant digits,
   * and Spark rounds the decimal cast from that string while DuckDB
   * rounds from the binary value, so any scale past the shortest repr
   * (e.g. 18) diverges between engines on ~half of float-widened
   * values (measured 293/640 dims on the test embeddings). Scale 12
   * is the repo-wide convention (see unigramNll). Null labels are
   * omitted and null/NaN elements excluded, like the other grouped
   * operators. Shuffle carries |labels| x dims cells.
   */
  def labelCentroids(df: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast(ArrayType(DoubleType))).as(Seq("dim", "x")))
      .filter(col("label").isNotNull && col("x").isNotNull && !isnan(col("x")))
      .groupBy(col("label"), col("dim"))
      .agg((sum(col("x").cast("decimal(28,12)")).cast(DoubleType) /
        count(lit(1))).as("m"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("__s"))
      .select(col("label"), col("__s.m").as("centroid"))
  }

  /**
   * Within-class outlier distances: every vector's L2 distance to its
   * own label's centroid (rounded at 4, the ANN determinism
   * convention) — far-from-centroid rows are mislabel/garbage-embedding
   * candidates. The centroid table is |labels| rows, broadcast back;
   * the distance is the native codegen'd [[graft.functions.L2Distance]]
   * kernel, left-to-right fold an oracle replays exactly.
   */
  def centroidOutlierScores(df: DataFrame, idCol: String, vecCol: String,
                            labelCol: String): DataFrame = {
    val cents = labelCentroids(df, vecCol, labelCol)
      .select(col("label").as("__clabel"), col("centroid"))
    df.join(broadcast(cents), col(labelCol) === col("__clabel"))
      .select(col(idCol), col(labelCol),
        round(graft.functions.ArrayKernels.l2(col(vecCol), col("centroid")), 4)
          .as("centroid_dist"))
  }

  /** JL ±1 sign matrix, row-major (outDims × inDims), md5-derived so any
    * engine replays it: s(j,i) = +1 iff md5("rp_tag_j_i") is even. */
  def rpSigns(inDims: Int, outDims: Int, tag: String): Array[Byte] =
    Array.tabulate(outDims * inDims) { n =>
      val (j, i) = (n / inDims, n % inDims)
      if (Dedup.md5LongJvm(s"rp_${tag}_${j}_${i}") % 2 == 0) 1: Byte else -1: Byte
    }

  /** Adds `projCol` = the JL projection of `vecCol` to outDims dims
    * (scale 1/√outDims — exact in doubles for power-of-4 outDims).
    * Zero-shuffle codegen'd map; see [[graft.functions.RandomProject]]
    * for the scale rationale and the engine-exactness contract. */
  def randomProjection(df: DataFrame, vecCol: String, projCol: String,
                       inDims: Int, outDims: Int, tag: String,
                       normalize: Boolean = false): DataFrame =
    df.withColumn(projCol, graft.functions.RandomProject(
      col(vecCol), rpSigns(inDims, outDims, tag), outDims,
      1.0 / math.sqrt(outDims.toDouble), normalize))

  /**
   * Two-stage ANN: JL-projected candidate generation + exact re-rank.
   * Stage 1 scores every (query, corpus) pair by DOT PRODUCT in the
   * projected space — outDims muls instead of inDims (the 4× compute
   * cut at 64→16), same bounded-heap top-k shuffle shape as
   * [[bruteForceTopK]] — keeping `candK` candidates per query. Stage 2
   * re-scores only those candidates by exact cosine on the full
   * vectors and keeps `k`. Both stages rank by (round(score,4) desc,
   * id) — the deterministic ANN convention — so the whole cascade has
   * an exact oracle despite being approximate vs brute force.
   *
   * At 100 TB the corpus-side win compounds: the projected vectors are
   * the only thing the candidate stage touches, so the scan reads
   * outDims doubles per row (columnar pruning drops the full vector
   * until the candK-sized re-rank join, which is candidate-sized, not
   * corpus-sized).
   */
  def projTopK(corpus: DataFrame, idCol: String, vecCol: String,
               queries: DataFrame, qidCol: String, qvecCol: String,
               k: Int, candK: Int, inDims: Int, outDims: Int,
               tag: String = "16"): DataFrame = {
    // project the UNIT vectors: stage-1 ranks by dot product, and the
    // target metric is cosine — unnormalized dots would let a long
    // vector outrank a better-aligned short one. NB the synthetic test
    // embeddings are near-orthogonal noise (pairwise cosine gaps below
    // the JL error at any useful compression), so corpus-wide recall@3
    // there is the noise floor (~0.2 at candK=10, rising with candK);
    // with real neighbor structure (planted near-dup cluster, spec'd)
    // the cascade recovers the whole cluster at rank 1-3. candK is the
    // recall dial; the JL error shrinks as 1/√outDims.
    val cp = randomProjection(corpus, vecCol, "__p", inDims, outDims, tag,
      normalize = true).select(col(idCol), col("__p"))
    val qp = randomProjection(queries, qvecCol, "__qp", inDims, outDims, tag,
      normalize = true).select(col(qidCol), col("__qp"))
    val scored = cp.crossJoin(broadcast(qp))
      .filter(col(qidCol) =!= col(idCol))
      .withColumn("score", graft.functions.ArrayKernels.dot(col("__qp"), col("__p")))
    val cands = topKPerQuery(scored, qidCol, idCol, candK)
      .select(col(qidCol), col(idCol))
    // candidates are queries×candK rows — broadcast THEM at the corpus,
    // so the re-rank join is a semi-join-shaped scan, never a shuffle
    val rescored = corpus.select(col(idCol), col(vecCol))
      .join(broadcast(cands), Seq(idCol))
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))), Seq(qidCol))
      .withColumn("score", cosine(col(qvecCol), col(vecCol)))
    topKPerQuery(rescored, qidCol, idCol, k)
  }

  /**
   * Full covariance matrix of the embedding table (the input PCA/
   * whitening runs on): upper-triangle (i, j, cov) cells with
   * `cov = E[x_i·x_j] − E[x_i]·E[x_j]`. Complements [[embeddingStats]]
   * (its diagonal) with the cross terms that reveal correlated /
   * near-duplicate dimensions.
   *
   * Engine-exact like embeddingStats: every product truncates to a
   * fixed decimal scale once, the cell sums are exact, one fixed-order
   * double division chain at the end.
   *
   * Scale shape: one [[momentAggregate]] treeAggregate pass — per-task
   * 128-bit scale-12 partial sums, so the merge carries O(d² × tasks)
   * longs, never data. The per-row d² multiply cost is covariance's
   * intrinsic FLOP count; the quantized-long formulation keeps the
   * replay bit-exact on any engine or partitioning while avoiding the
   * measured 25× Decimal-aggregate overhead (see [[momentAggregate]]).
   *
   * Magnitude bound: the scale-12 long quantization needs |xᵢ| AND
   * every product |xᵢ·xⱼ| under 1e6 — i.e. roughly |xᵢ| < 1e3
   * (tighter than the old decimal(28,12) aggregate's ~1e16). Larger
   * magnitudes throw a named error at first touch; rescale or
   * normalize embeddings first. Typical unit-norm or bounded-feature
   * embeddings are far inside the bound.
   */
  def embeddingCovariance(df: DataFrame, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (n, d, singles, pairs) = momentAggregate(df, vecCol)
    val cells = for { i <- 0 until d; j <- i until d } yield {
      val sij = pairs(pairIdx(i, j, d)).doubleValue()
      val cov = roundAt(sij / n
        - (singles(i).doubleValue() / n) * (singles(j).doubleValue() / n), 6) + 0.0
      (i, j, n, cov)
    }
    cells.toDF("i", "j", "n", "cov")
  }

  /** Flat upper-triangle index of (i, j), i <= j, in a d-dim matrix. */
  @inline private def pairIdx(i: Int, j: Int, d: Int): Int =
    i * d - i * (i - 1) / 2 + (j - i)

  /**
   * Streaming-composable covariance moment cells: the incremental form
   * of [[embeddingCovariance]], shaped as a plain keyed aggregation so
   * Structured Streaming can maintain it in complete mode — state is
   * the cell grid (d(d+1)/2 pair cells + d dim cells), NEVER the
   * vectors, at any corpus size. The [[momentAggregate]] treeAggregate
   * kernel is the cheaper batch path but is not a streaming-updatable
   * plan; this is the one you run against a live ingest.
   *
   * Output per cell: (i, j, n, s) where j >= i holds s = Σ xᵢ·xⱼ and
   * the sentinel j = -1 holds the per-dimension sum Σ xᵢ (emitted once
   * per dim instead of once per PAIR — the oracle's per-(i,j) xi sums
   * are the same multiset grouped finer, and decimal sums are exact, so
   * deriving sᵢ from the d sentinel cells is value-identical while
   * cutting the decimal-agg work ~6×: one sum per triangle row instead
   * of three per full-square row).
   *
   * Round-12 shape: the cells are PRE-AGGREGATED per task with the
   * [[momentAggregate]] int128 kernel (quantize12 is bit-identical to
   * Spark's double→decimal(_,12) cast, add128 to its decimal sum — the
   * proof is the hash-exact kmeans/embed-cov oracle family), and only
   * the ≤(d(d+1)/2 + d) partial cells per task enter the streaming
   * aggregation as exact scale-12 decimals. The previous shape (explode
   * every cell of every row into the decimal agg) paid a measured
   * ~3.7 ms/row — 70× the batch kernel (SCALE.md, round 12): a
   * Decimal cast + non-vectorized Decimal add per CELL, n·(d²/2+d)
   * rows through the exchange per microbatch. The kernel pays primitive
   * long adds per cell and ships O(tasks · d²) cells, never O(rows · d²)
   * — the same exchange-carries-cells scale shape as the batch kernel,
   * now per delta. Drained grid bit-identical by construction (decimal
   * addition is exact, so any grouping/order of the same quantized
   * multiset sums identically); StreamingSpec's covariance case pins
   * grid equality against the batch path.
   *
   * Cells are tracked in a LongMap keyed by (i, j), so ragged vectors
   * contribute to exactly the cells their length reaches — per-cell
   * counts stay identical to the old per-row explode.
   */
  def covCellStream(df: DataFrame, vecCol: String): DataFrame = {
    import KMeansDet.quantize12
    val spark = df.sparkSession
    import spark.implicits._
    val partials = df
      .select(col(vecCol).cast(ArrayType(DoubleType)).as("__v"))
      .as[Seq[Double]]
      .mapPartitions { it =>
        // (hi, lo, n) per live cell; key = (i << 32) | (j + 1)
        val cells = new scala.collection.mutable.LongMap[Array[Long]]()
        def acc(i: Int, j: Int, q: Long): Unit = {
          val k = (i.toLong << 32) | ((j + 1).toLong & 0xffffffffL)
          val c = cells.getOrElseUpdate(k, new Array[Long](3))
          val l0 = c(1); val nlo = l0 + q
          c(0) += (q >> 63) + (((l0 & q) | ((l0 | q) & ~nlo)) >>> 63)
          c(1) = nlo
          c(2) += 1
        }
        it.foreach { v =>
          if (v != null) {
            val d = v.length
            try {
              var i = 0
              while (i < d) {
                val xi = v(i)
                acc(i, -1, quantize12(xi))
                var j = i
                while (j < d) { acc(i, j, quantize12(xi * v(j))); j += 1 }
                i += 1
              }
            } catch { case e: FeatureRangeException =>
              throw new IllegalArgumentException(
                "covCellStream: embedding magnitude out of range — exact " +
                  "scale-12 moment sums need |xi| and every product " +
                  "|xi*xj| under 1e6 (so roughly |xi| < 1e3); rescale or " +
                  s"normalize the vectors first. Cause: ${e.getMessage}", e)
            }
          }
        }
        cells.iterator.map { case (k, c) =>
          val big = (BigInt(c(0)) << 64) + BigInt(java.lang.Long.toUnsignedString(c(1)))
          // Headroom note (r12 ADVICE): the tuple ENCODER types this
          // BigDecimal as decimal(38,18), capping a representable task
          // partial at |s| < 1e20 even though the int128 kernel carries
          // ~1.7e38 — past the cap the encode fails loudly (ANSI), never
          // sums wrong. With the |xi*xj| < 1e6 quantize12 guard a task
          // needs ~1e14 max-magnitude rows to get there (10^5x any
          // realistic task), so the narrowing is accepted and documented
          // rather than worked around with a (hi, lo) reassembly.
          ((k >> 32).toInt, (k & 0xffffffffL).toInt - 1, c(2),
            new java.math.BigDecimal(big.bigInteger, 12))
        }
      }
      .toDF("i", "j", "__n", "__s")
    partials
      .groupBy(col("i"), col("j"))
      .agg(sum(col("__n")).as("n"),
        sum(col("__s").cast("decimal(38,12)")).as("s"))
  }

  /**
   * A drained [[covCellStream]] grid reshaped into [[pcaMomentCells]]'
   * layout — (i, j, n, Σxi, Σxj, Σxixj) with exact decimals — so the
   * streaming-maintained grid can feed the SAME model builders
   * ([[pcaTopComponents]], [[pcaLeadingComponent]]) as the batch
   * kernel. Value-identical to the kernel's cells by construction:
   * decimal sums of one multiset grouped coarser (the per-dim
   * sentinels) equal the per-pair sums, and the stream's
   * sum(cast(decimal(28,12))) is the quantize12 discipline. The grid
   * is model-sized; this collects it.
   */
  def momentCellsFromGrid(grid: DataFrame)
      : Array[(Int, Int, Long, java.math.BigDecimal, java.math.BigDecimal, java.math.BigDecimal)] = {
    val rows = grid.collect()
    val dims = rows.filter(r => r.getInt(1) == -1)
      .map(r => r.getInt(0) -> r.getDecimal(3).setScale(12)).toMap
    rows.filter(r => r.getInt(1) >= 0).map { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      (i, j, r.getLong(2), dims(i), dims(j), r.getDecimal(3).setScale(12))
    }
  }

  /**
   * Finishing step for a drained [[covCellStream]] grid: join the two
   * sentinel dim cells back onto each pair cell and apply the same
   * fixed-order cov formula as [[embeddingCovariance]]. The grid is
   * model-sized (2,144 rows at d=64) so both joins broadcast.
   */
  def covCellsFinish(cells: DataFrame): DataFrame = {
    val dims = cells.filter(col("j") === -1)
      .select(col("i").as("__d"), col("s").cast(DoubleType).as("__sd"))
    cells.filter(col("j") >= 0)
      .join(broadcast(dims.select(col("__d").as("__di"), col("__sd").as("__si"))),
        col("i") === col("__di"))
      .join(broadcast(dims.select(col("__d").as("__dj"), col("__sd").as("__sj"))),
        col("j") === col("__dj"))
      .select(col("i"), col("j"), col("n"),
        (round(col("s").cast(DoubleType) / col("n")
          - (col("__si") / col("n")) * (col("__sj") / col("n")), 6) + lit(0.0))
          .as("cov"))
  }

  /**
   * The single corpus pass behind [[embeddingCovariance]] and
   * [[pcaMomentCells]]: per-partition 128-bit scale-12 long sums of
   * every xᵢ and every upper-triangle product xᵢ·xⱼ, merged by
   * treeAggregate — numerically IDENTICAL to
   * `sum(cast(x AS decimal(28,12)))` ([[KMeansDet.quantize12]] is
   * Spark's cast, add128 is the int128 decimal sum, the proof is the
   * hash-exact kmeans fit oracle), but ~25× cheaper: the declarative
   * pair-explode + decimal-agg formulation paid a Double.toString +
   * BigDecimal allocation AND a non-vectorized Decimal add per product
   * INSIDE the aggregate (≈15 s at sf0.1 — masked in early bench
   * records because `count()` pruned the unused sum columns; the
   * kernel makes the recorded cost the honest one). The partial state
   * is O(d²) longs per partition, the merge O(d² · partitions) — the
   * same exchange-carries-cells scale shape as before.
   *
   * Returns (rowCount, dims, singles Σxᵢ, pairs Σxᵢxⱼ) with exact
   * scale-12 decimals reconstructed from the 128-bit sums.
   */
  private def momentAggregate(df: DataFrame, vecCol: String)
      : (Long, Int, Array[java.math.BigDecimal], Array[java.math.BigDecimal]) = {
    import KMeansDet.{quantize12, add128}
    val rdd0 = df.select(col(vecCol).cast(ArrayType(DoubleType)).as("__v"))
      .filter(col("__v").isNotNull)
      .rdd.map(_.getSeq[Double](0).toArray)
    // the d² quantize work per ROW dwarfs the row itself, so a
    // single-file source (one scan partition) serializes the whole pass
    // on one core; widen ONLY under-partitioned inputs — a corpus-scale
    // table already arrives with plenty of splits and skips the shuffle
    val para = df.sparkSession.sparkContext.defaultParallelism
    val rdd = if (rdd0.getNumPartitions < para) rdd0.repartition(para) else rdd0
    val d = rdd.take(1).headOption.map(_.length).getOrElse(0)
    if (d == 0) return (0L, 0, Array.empty, Array.empty)
    require(d <= 1024,
      s"momentAggregate: $d dims — beyond 1024 the O(d²) cell state is " +
        "driver-hostile; project first (randomProjection)")
    val nPairs = d * (d + 1) / 2
    // acc layout: (rowCount[1], sHi[d], sLo[d], pHi[nPairs], pLo[nPairs])
    type Acc = (Array[Long], Array[Long], Array[Long], Array[Long], Array[Long])
    def zero: Acc = (new Array[Long](1), new Array[Long](d), new Array[Long](d),
      new Array[Long](nPairs), new Array[Long](nPairs))
    val (cnt, sHi, sLo, pHi, pLo) = rdd.treeAggregate(zero)(
      seqOp = { case (acc, x) =>
        require(x.length == d,
          s"momentAggregate: ragged vector (${x.length} vs $d dims)")
        acc._1(0) += 1
        // try/catch costs nothing until thrown; it renames quantize12's
        // range error so the failure names THIS operator and its
        // tighter product bound (|xi·xj| < 1e6 ⇒ roughly |xi| < 1e3)
        try {
          var i = 0
          while (i < d) {
            add128(acc._2, acc._3, i, quantize12(x(i)))
            var j = i
            var idx = pairIdx(i, i, d)
            while (j < d) {
              add128(acc._4, acc._5, idx, quantize12(x(i) * x(j)))
              j += 1; idx += 1
            }
            i += 1
          }
        } catch { case e: FeatureRangeException =>
          // ONLY quantize12's own range error is rewrapped — any other
          // IllegalArgumentException (e.g. a future add128 guard) must
          // surface under its own name, not as a magnitude complaint
          throw new IllegalArgumentException(
            "embeddingCovariance/pcaMomentCells: embedding magnitude out " +
              "of range — exact scale-12 moment sums need |xi| and every " +
              "product |xi*xj| under 1e6 (so roughly |xi| < 1e3); rescale " +
              s"or normalize the vectors first. Cause: ${e.getMessage}", e)
        }
        acc
      },
      combOp = { case (a, b) =>
        a._1(0) += b._1(0)
        def merge(hi1: Array[Long], lo1: Array[Long],
                  hi2: Array[Long], lo2: Array[Long]): Unit = {
          var k = 0
          while (k < hi1.length) {
            val nlo = lo1(k) + lo2(k)
            // unsigned-overflow carry of the low words
            hi1(k) += hi2(k) + (((lo1(k) & lo2(k)) | ((lo1(k) | lo2(k)) & ~nlo)) >>> 63)
            lo1(k) = nlo
            k += 1
          }
        }
        merge(a._2, a._3, b._2, b._3)
        merge(a._4, a._5, b._4, b._5)
        a
      })
    def toDec(hi: Long, lo: Long): java.math.BigDecimal = {
      val big = (BigInt(hi) << 64) + BigInt(java.lang.Long.toUnsignedString(lo))
      new java.math.BigDecimal(big.bigInteger, 12)
    }
    (cnt(0), d,
      Array.tabulate(d)(i => toDec(sHi(i), sLo(i))),
      Array.tabulate(nPairs)(k => toDec(pHi(k), pLo(k))))
  }

  /**
   * Deterministic top-k eigenpairs of a symmetric matrix by power
   * iteration with Hotelling deflation — the driver-side half of PCA
   * over [[embeddingCovariance]] (the matrix is model-sized: d², never
   * data-sized). Fixed all-ones start vector and iteration count, so
   * the result is reproducible run to run; convergence for the corpus
   * covariance is spec-asserted (‖Av − λv‖ small), not assumed.
   */
  def topEigen(m: Array[Array[Double]], k: Int, iters: Int = 200): Seq[(Double, Array[Double])] = {
    val d = m.length
    require(m.forall(_.length == d), "matrix must be square")
    require(k >= 1 && k <= d, s"k in [1, $d]")
    val a = m.map(_.clone())
    (0 until k).map { _ =>
      // graded deterministic start (1+ε·i), not all-ones: a symmetric
      // matrix can have the uniform vector exactly orthogonal to an
      // eigenspace (any ±-balanced component), which stalls the
      // iteration at a zero image; the grading breaks every such tie
      val v0 = Array.tabulate(d)(i => 1.0 + 0.001 * (i + 1))
      val n0 = math.sqrt(v0.map(x => x * x).sum)
      var v = v0.map(_ / n0)
      for (_ <- 0 until iters) {
        val av = Array.tabulate(d)(i => {
          var s = 0.0; var j = 0
          while (j < d) { s += a(i)(j) * v(j); j += 1 }
          s
        })
        val n = math.sqrt(av.map(x => x * x).sum)
        // a deflated-out (or zero) direction: keep the previous vector
        if (n > 1e-300) v = av.map(_ / n)
      }
      // Rayleigh quotient for the signed eigenvalue
      val av = Array.tabulate(d)(i => {
        var s = 0.0; var j = 0
        while (j < d) { s += a(i)(j) * v(j); j += 1 }
        s
      })
      val lambda = v.zip(av).map { case (x, y) => x * y }.sum
      // Hotelling deflation: A <- A - lambda v v^T
      for (i <- 0 until d; j <- 0 until d) a(i)(j) -= lambda * v(i) * v(j)
      (lambda, v)
    }
  }

  /** x cast to decimal(28,12) with Spark's Cast semantics (shortest-repr
    * BigDecimal, HALF_UP at scale 12) — the same quantization
    * [[graft.operators.KMeansDet.quantize12]] uses, kept as a BigDecimal
    * here because the PCA sums stay driver-side. */
  private def dec12(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP)

  /** Spark's round(x, s) on a double: HALF_UP over the shortest decimal
    * representation (DuckDB's round-half-away agrees for every
    * magnitude). */
  private def roundAt(x: Double, s: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()

  /**
   * One corpus pass collecting the d²-bounded moment cells PCA runs on:
   * upper-triangle (i, j, n, Σxi, Σxj, Σxi·xj) with exact decimal(28,12)
   * sums — the [[embeddingCovariance]] aggregate, collected raw so the
   * driver can derive means AND covariances from one scan. The collect
   * is O(d²) = model-sized by construction (d ≤ 1024 guarded), never
   * corpus-sized.
   */
  def pcaMomentCells(df: DataFrame, vecCol: String)
      : Array[(Int, Int, Long, java.math.BigDecimal, java.math.BigDecimal, java.math.BigDecimal)] = {
    val (n, d, singles, pairs) = momentAggregate(df, vecCol)
    (for { i <- 0 until d; j <- i until d } yield
      (i, j, n, singles(i), singles(j), pairs(pairIdx(i, j, d)))).toArray
  }

  /**
   * The leading principal component as a FIXED-STEP power iterate over
   * the covariance derived from [[pcaMomentCells]] — every arithmetic
   * step replicates what the SQL oracle's unrolled CTEs compute, so the
   * vector (and everything projected through it) is engine-exact:
   *
   *  - cov(i,j) = round(sij/n − (si/n)(sj/n), 6) + 0.0 (the
   *    embeddingCovariance formula, doubles from decimal casts);
   *  - v₀ᵢ = 1 + 0.001·(i+1) (graded start — see [[topEigen]] for why
   *    uniform starts can stall);
   *  - each step: numᵢ = Σⱼ dec12(cov(i,j)·vⱼ) exactly (decimal sums are
   *    order-independent), ss = Σ dec12(numᵢ²), v′ᵢ = round(numᵢ/√ss, 9).
   *
   * Unlike [[topEigen]] (200 free-double iterations, driver-only), the
   * step count here is part of the operator's CONTRACT — the output is
   * "the k-step iterate", exactly replayable, converged or not. Eight
   * steps separate a dominant component by ~(λ₂/λ₁)⁸.
   *
   * Returns (means, component): both length-d double arrays.
   */
  def pcaLeadingComponent(
      cells: Array[(Int, Int, Long, java.math.BigDecimal, java.math.BigDecimal, java.math.BigDecimal)],
      steps: Int = 8): (Array[Double], Array[Double]) = {
    require(cells.nonEmpty, "pcaLeadingComponent: no moment cells")
    val d = cells.map(_._2).max + 1
    val a = Array.ofDim[Double](d, d)
    val means = new Array[Double](d)
    cells.foreach { case (i, j, n, si, sj, sij) =>
      val cov = roundAt(sij.doubleValue() / n
        - (si.doubleValue() / n) * (sj.doubleValue() / n), 6) + 0.0
      a(i)(j) = cov; a(j)(i) = cov
      if (i == j) means(i) = si.doubleValue() / n
    }
    var v = Array.tabulate(d)(i => 1.0 + 0.001 * (i + 1))
    for (_ <- 0 until steps) {
      val num = Array.tabulate(d) { i =>
        var s = java.math.BigDecimal.ZERO
        var j = 0
        while (j < d) { s = s.add(dec12(a(i)(j) * v(j))); j += 1 }
        s.doubleValue()
      }
      var ss = java.math.BigDecimal.ZERO
      num.foreach(x => ss = ss.add(dec12(x * x)))
      val nrm = math.sqrt(ss.doubleValue())
      v = num.map(x => roundAt(x / nrm, 9))
    }
    (means, v)
  }

  /**
   * Top-k engine-exact principal components with Hotelling deflation —
   * [[pcaLeadingComponent]] generalized: after each fixed-step iterate
   * v the eigenvalue is the Rayleigh quotient λ = Σᵢⱼ aᵢⱼ·vᵢ·vⱼ and the
   * matrix deflates cell-wise to round(aᵢⱼ − λ·vᵢ·vⱼ, 6) + 0.0 before
   * the next component's iterate.
   *
   * Replay discipline — FIXED-ORDER double folds, not decimal sums:
   * every sum here is a sequential IEEE fold in a declared order
   * (matvec over j ascending, norm over i ascending, Rayleigh in
   * row-major (i,j)), which DuckDB replays exactly with
   * `list_reduce(list(term ORDER BY …), (x,y) -> x+y)`. The decimal
   * discipline the single-component path uses is order-independent but
   * quantizes ~200k generic doubles per component chain, and Scala/
   * Spark (shortest-repr HALF_UP) vs DuckDB (exact-binary half-away)
   * disagree inside a ~4-ulp band around each scale-12 half boundary —
   * at this volume a collision is EXPECTED (observed in the first cut
   * of this operator: one hit in component 2's chain skewed w2 by 7e-6
   * at sf0.01). An ordered fold has no quantization step at all; the
   * only residual rounds are the round-9 normalize and round-6
   * deflation (~5k values, band ~1e-8 each). These sums are driver-
   * side on the model-sized d² matrix, so order-independence buys
   * nothing — the distributed sums (moment cells, projections) keep
   * the decimal discipline.
   *
   * Returns (means, per-component (vector, λ)).
   */
  def pcaTopComponents(
      cells: Array[(Int, Int, Long, java.math.BigDecimal, java.math.BigDecimal, java.math.BigDecimal)],
      k: Int, steps: Int = 8): (Array[Double], Seq[(Array[Double], Double)]) = {
    require(cells.nonEmpty, "pcaTopComponents: no moment cells")
    val d = cells.map(_._2).max + 1
    require(k >= 1 && k <= d, s"k in [1, $d]")
    val a = Array.ofDim[Double](d, d)
    val means = new Array[Double](d)
    cells.foreach { case (i, j, n, si, sj, sij) =>
      val cov = roundAt(sij.doubleValue() / n
        - (si.doubleValue() / n) * (sj.doubleValue() / n), 6) + 0.0
      a(i)(j) = cov; a(j)(i) = cov
      if (i == j) means(i) = si.doubleValue() / n
    }
    val comps = (0 until k).map { _ =>
      var v = Array.tabulate(d)(i => 1.0 + 0.001 * (i + 1))
      for (_ <- 0 until steps) {
        val num = Array.tabulate(d) { i =>
          var s = 0.0
          var j = 0
          while (j < d) { s += a(i)(j) * v(j); j += 1 }
          s
        }
        var ss = 0.0
        num.foreach(x => ss += x * x)
        val nrm = math.sqrt(ss)
        v = num.map(x => roundAt(x / nrm, 9))
      }
      var lam = 0.0
      for (i <- 0 until d; j <- 0 until d) lam += a(i)(j) * v(i) * v(j)
      for (i <- 0 until d; j <- 0 until d)
        a(i)(j) = roundAt(a(i)(j) - lam * v(i) * v(j), 6) + 0.0
      (v, lam)
    }
    (means, comps)
  }

  /**
   * The corpus projected onto a principal component: per row
   * pc = round(Σᵢ dec12((xᵢ − mᵢ)·vᵢ), 6) — centered, so this IS the
   * first whitening coordinate. The component and means ride the plan
   * as literals (model-sized broadcast by construction): the projection
   * is a pure zero-shuffle codegen'd scan — a d-term decimal Add chain,
   * no UDF, no join — the only shape that survives a 100 TB corpus.
   * Decimal terms keep the fold order-independent, so the result is
   * identical on any partitioning and any engine.
   */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String,
                 means: Array[Double], component: Array[Double],
                 outCol: String = "pc1"): DataFrame = {
    require(means.length == component.length, "means/component dim mismatch")
    df.select(col(idCol),
      centeredProj(col(vecCol), means, component).as(outCol))
  }

  // each intermediate is re-capped at decimal(30,12): a naive 64-term
  // Add chain escalates precision past 38, where Spark's
  // allowPrecisionLoss quietly drops the scale to ~6 digits — the
  // 2e-6-level skew the oracle caught. (30,12)+(18,12) -> (31,12) is
  // exact and under the cap at every step, and the cast back to
  // (30,12) never truncates (|partial sum| < 1e18 by construction),
  // so the fold stays bit-exact AND whole-stage-codegen'd.
  private def centeredProj(vec: Column, means: Array[Double],
                           component: Array[Double]): Column = {
    val x = vec.cast(ArrayType(DoubleType))
    val terms = component.indices.map(i =>
      ((x.getItem(i) - lit(means(i))) * lit(component(i))).cast("decimal(18,12)"))
    val sum = terms.reduce((a, b) => (a + b).cast("decimal(30,12)"))
    round(sum.cast(DoubleType), 6) + lit(0.0)
  }

  /**
   * PCA-whitened coordinates: each [[pcaTopComponents]] component's
   * centered projection scaled to unit variance, w_c = round(pc_c /
   * √λ_c, 6) — decorrelated, equal-scale axes (the preprocessing
   * contrastive training and Mahalanobis-style outlier scoring want).
   * Same zero-shuffle shape as [[pcaProject]]: components, means and
   * the √λ scales all ride the plan as literals; one codegen'd scan,
   * no UDF, no join. Requires every λ > 0 (a non-positive Rayleigh
   * value means the component is noise — whitening by it would blow
   * up; ask for fewer components).
   */
  def pcaWhitenProject(df: DataFrame, idCol: String, vecCol: String,
                       means: Array[Double],
                       comps: Seq[(Array[Double], Double)]): DataFrame = {
    require(comps.nonEmpty, "pcaWhitenProject: no components")
    comps.foreach { case (_, lam) =>
      require(lam > 0, s"pcaWhitenProject: non-positive eigenvalue $lam") }
    val cols = comps.zipWithIndex.map { case ((v, lam), c) =>
      (round(centeredProj(col(vecCol), means, v) / lit(math.sqrt(lam)), 6)
        + lit(0.0)).as(s"w${c + 1}")
    }
    df.select(col(idCol) +: cols: _*)
  }
}
