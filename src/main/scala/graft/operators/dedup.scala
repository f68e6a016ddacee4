package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deduplication suite for large-scale training-data pipelines. Not present
 * in the reference (whose largest corpus is 38.8k grocery rows); designed
 * for the 100 TB documents case: every stage is hash-partition parallel,
 * candidate generation is LSH-banded so no O(n^2) pair enumeration ever
 * materializes, and cluster resolution is iterative min-id propagation
 * (no driver-sized state).
 *
 * All hashes derive from md5 (not xxhash) so every step has an exact
 * DuckDB oracle: h(s) = first 15 hex digits of md5(s) as a 60-bit int,
 * then universal hashing (a*h + b) mod p over p = 2^31 - 1.
 */
object Dedup {

  val P: Long = 2147483647L // 2^31 - 1, keeps a*(h%p)+b inside a long

  /** 60-bit integer from md5 — identical in Spark and DuckDB. */
  def md5Long(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Deterministic universal-hash parameters for k hash functions. */
  def hashParams(k: Int, seed: Long): Array[(Long, Long)] = {
    val rng = new java.util.Random(seed)
    Array.fill(k)((math.abs(rng.nextLong()) % (P - 1) + 1, math.abs(rng.nextLong()) % P))
  }

  /** Distinct lowercase whitespace tokens of a text column. */
  def tokens(c: Column): Column = array_distinct(split(lower(c), "\\s+"))

  /** Word n-gram shingles (space-joined), distinct. Docs with fewer than
    * n words produce an empty array (Spark's sequence(0, -1) would count
    * DOWN, so the short case is guarded explicitly). */
  def shingles(c: Column, n: Int): Column = {
    if (n == 1) tokens(c)
    else {
      val words = split(lower(c), "\\s+")
      val count = size(words) - (n - 1)
      when(count > 0,
        array_distinct(transform(sequence(lit(0), count - 1), i =>
          concat_ws(" ", transform(sequence(i, i + (n - 1)), j => element_at(words, j + 1))))))
        .otherwise(array().cast(ArrayType(StringType)))
    }
  }

  // ---------------------------------------------------------------- exact

  /**
   * Exact dedup: group by a (possibly normalized) content key, keep the
   * row with the smallest id. A `min_by(struct(row), id)` hash aggregate,
   * not a row_number window: partial aggregation keeps one candidate row
   * per key per map task, so the shuffle carries ~|keys| rows instead of
   * sorting every input row within key partitions (18s -> 4s on the 100x
   * documents corpus).
   */
  def exact(df: DataFrame, keyCol: Column, idCol: String): DataFrame = {
    val cols = df.columns
    df.groupBy(keyCol)
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__row"))
      .select(cols.map(c => col(s"__row.$c")): _*)
  }

  /**
   * Streaming exact dedup: first row per key wins within the watermark
   * horizon (`dropDuplicatesWithinWatermark` keeps key state only until
   * the watermark passes — bounded state, the 100 TB streaming-ingest
   * dedup primitive). Batch `exact` keeps min-id instead of first-seen;
   * on a stream ordered by event time they coincide.
   */
  def exactStream(ds: DataFrame, keyCols: Seq[String], timeCol: String,
                  delay: String): DataFrame =
    ds.withColumn("__rowtime", timestamp_millis(col(timeCol)))
      .withWatermark("__rowtime", delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
      .drop("__rowtime")

  // -------------------------------------------------------------- minhash

  /** k-function minhash signature over a PRE-HASHED token array column
    * (see hashedTokens) — md5 runs once per token, not once per hash fn. */
  def minhashSignature(hashedTok: Column, k: Int, seed: Long): Column = {
    val params = hashParams(k, seed)
    array(params.map { case (a, b) =>
      array_min(transform(hashedTok, h => (lit(a) * h + lit(b)) % P))
    }: _*)
  }

  /** Rolling-combine base for shingle hashes. */
  val B: Long = 1000003L

  /** Shingles reduced to 31-bit hashes — ONE md5 per word, shingle hashes
    * combined arithmetically (h_i*B + h_{i+1})*B + … mod P, never
    * materializing shingle strings. Word n-grams (n >= 2) are the right
    * unit for natural-language near-dup detection: random same-domain docs
    * share vocabulary (unigram Jaccard can sit at 0.5+) but not 3-gram
    * sequences. */
  def hashedTokens(textCol: Column, shingleN: Int = 1): Column = {
    if (shingleN == 1) array_distinct(transform(split(lower(textCol), "\\s+"), t => md5Long(t) % P))
    else {
      val wh = transform(split(lower(textCol), "\\s+"), t => md5Long(t) % P)
      val count = size(wh) - (shingleN - 1)
      val rolled = transform(sequence(lit(0), count - 1), i =>
        (1 until shingleN).foldLeft(element_at(wh, i + 1)) { (acc, j) =>
          (acc * B + element_at(wh, i + j + 1)) % P
        })
      when(count > 0, array_distinct(rolled))
        .otherwise(array().cast(ArrayType(LongType)))
    }
  }

  /**
   * LSH candidate pairs: signatures cut into `bands` bands; docs sharing
   * any band signature become a candidate pair. The band groupBy is the
   * only shuffle; within-bucket pairing explodes only bucket-local ids
   * (buckets are small when bands*rows is sized to the corpus).
   */
  /** One MessageDigest per executor thread: getInstance is a synchronized
    * provider lookup + allocation, and the md5 kernels call this once per
    * WORD — per-call getInstance was a measurable slice of every
    * signature/fingerprint scan. digest() resets the instance after each
    * use, so reuse is safe. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Shared compiled whitespace splitter: `String.split("\\s+")` compiles
    * the pattern per CALL (the single-char fast path doesn't apply);
    * Pattern is immutable/thread-safe. */
  private[graft] val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** md5Long as plain Scala — bit-identical to the Column form (first 15
    * hex digits of md5 = first 7 bytes + the high nibble of the 8th). */
  def md5LongJvm(s: String): Long = {
    val d = md5Local.get()
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /**
   * Whole minhash signature in one pass of tight JVM loops: split, one md5
   * per word, rolling shingle combine, k minima. A single UDF call per row
   * beats the equivalent nested higher-order functions by ~10x here:
   * Catalyst does not CSE subexpressions inside lambda functions, so the
   * expression form re-hashes the word array once per element access.
   */
  /** Positional rolling n-gram hashes over pre-hashed words: out(i) is
    * the hash of the window starting at word i ((…(h_i·B + h_{i+1})·B +
    * …) mod P). Length = |words| − n + 1; empty when the doc is shorter
    * than one window. */
  private[operators] def rollingHashes(wh: Array[Long], n: Int): Array[Long] = {
    if (wh.length < n) Array.empty[Long]
    else {
      val out = new Array[Long](wh.length - n + 1)
      var i = 0
      while (i < out.length) {
        var acc = wh(i)
        var j = 1
        while (j < n) { acc = (acc * B + wh(i + j)) % P; j += 1 }
        out(i) = acc
        i += 1
      }
      out
    }
  }

  /** Hashed lowercase whitespace words of a text. Null text hashes to no
    * words — the central guard that makes every kernel built on this
    * (signatures, spans, novelty, contamination probes) follow the house
    * null convention (contribute nothing) instead of NPE-ing. */
  private[operators] def wordHashes(text: String): Array[Long] =
    if (text == null) Array.empty[Long]
    else wsPattern.split(text.toLowerCase).map(w => md5LongJvm(w) % P)

  /** Distinct hashed word-shingles of a text (the set both the minhash
    * signature and exact Jaccard are computed over). */
  private[operators] def shingleHashes(text: String, shingleN: Int): Array[Long] = {
    val wh = wordHashes(text)
    if (shingleN == 1) wh.distinct
    else rollingHashes(wh, shingleN).distinct
  }

  private def signatureUdf(numHashes: Int, bands: Int, seed: Long, shingleN: Int) = {
    val params = hashParams(numHashes, seed)
    udf { (text: String) =>
      val sh = shingleHashes(text, shingleN)
      if (sh.isEmpty) Array.empty[Long]
      else params.map { case (a, b) =>
        var mn = Long.MaxValue
        var i = 0
        while (i < sh.length) {
          val h = (a * sh(i) + b) % P
          if (h < mn) mn = h
          i += 1
        }
        mn
      }
    }
  }

  def minhashCandidatePairs(df: DataFrame, textCol: String, idCol: String,
                            numHashes: Int, bands: Int, seed: Long = 42L,
                            shingleN: Int = 1): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val banded = df
      .select(col(idCol).as("__id"),
        signatureUdf(numHashes, bands, seed, shingleN)(col(textCol)).as("__sig"))
      .filter(size(col("__sig")) > 0)
      .select(col("__id"), posexplode(
        array((0 until bands).map(b =>
          concat_ws("_", (0 until rows).map(r => element_at(col("__sig"), b * rows + r + 1)): _*)
        ): _*)).as(Seq("__band", "__bsig")))
    banded.as("l").join(banded.as("r"),
        col("l.__band") === col("r.__band") && col("l.__bsig") === col("r.__bsig") &&
          col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .distinct()
  }

  /**
   * Fused LSH candidates + exact Jaccard verify: one shuffle of
   * (band-bucket, id, shingle-hash set), then bucket-local pairwise
   * verification over sorted primitive arrays — unverified candidate
   * pairs are never materialized and the corpus is never re-joined to
   * fetch texts (the join-back version shuffles the full text column
   * twice). Jaccard is over the same hashed shingle sets the signature
   * minima come from; survivors are deduped across bands. This is the
   * scale path behind q_dedup_minhash; `minhashCandidatePairs` +
   * `ngramJaccard` remain the oracle-checked reference form.
   */
  /** (bucket, id, sorted shingle hashes) rows — one per (doc, band): the
    * shared candidate-generation shape behind the fused batch verify and
    * the incremental index (`incrementalNearDup`). One signature UDF call
    * per doc; the explode is bands× rows, never pairs. */
  private[operators] def bandedShingleRows(df: DataFrame, textCol: String,
                                           idCol: String, numHashes: Int,
                                           bands: Int, seed: Long,
                                           shingleN: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val params = hashParams(numHashes, seed)
    val sigShUdf = udf { (text: String) =>
      val sh = shingleHashes(text, shingleN)
      if (sh.isEmpty) (Array.empty[Long], Array.empty[Long])
      else {
        val sig = params.map { case (a, b) =>
          var mn = Long.MaxValue
          var i = 0
          while (i < sh.length) {
            val h = (a * sh(i) + b) % P
            if (h < mn) mn = h
            i += 1
          }
          mn
        }
        java.util.Arrays.sort(sh)
        (sig, sh)
      }
    }
    df.select(col(idCol).cast(LongType).as("__id"), sigShUdf(col(textCol)).as("__s"))
      .filter(size(col("__s._1")) > 0)
      .select(col("__id"), col("__s._2").as("__sh"),
        explode(array((0 until bands).map(b =>
          concat_ws("_", (lit(b) +: (0 until rows).map(r =>
            element_at(col("__s._1"), b * rows + r + 1))): _*)): _*)).as("__bucket"))
      .select(col("__bucket"), col("__id"), col("__sh"))
  }

  def minhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          numHashes: Int, bands: Int, seed: Long = 42L,
                          shingleN: Int = 1, threshold: Double = 0.8,
                          maxBucketSize: Int = 4096): DataFrame =
    pairsFromBandedRows(
      bandedShingleRows(df, textCol, idCol, numHashes, bands, seed, shingleN),
      threshold, maxBucketSize)

  /** Verified near-dup pairs from an ALREADY-BUILT banded relation —
    * factored out (round 12) so [[incrementalNearDup]] reuses its
    * persisted banded rows instead of re-running the signature UDF
    * over the batch a second time. */
  private[operators] def pairsFromBandedRows(banded: DataFrame,
                                             threshold: Double,
                                             maxBucketSize: Int): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    banded
      .as[(String, Long, Array[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val docs = it.toArray.sortBy(_._2)
        if (docs.length <= maxBucketSize)
          for {
            i <- docs.indices.iterator
            j <- (i + 1) until docs.length
            if jaccardSorted(docs(i)._3, docs(j)._3) >= threshold
          } yield (docs(i)._2, docs(j)._2)
        else {
          // Oversized bucket (adversarial corpus: thousands of near-
          // identical docs collide in every band). Pairwise here is
          // O(|bucket|²) — instead verify each doc against the min-id
          // pivot docs only: O(pivots·|bucket|), deterministic. A
          // homogeneous bucket keeps FULL recall through cluster
          // transitivity (every member links to the first pivot); only
          // cross-pairs of a mixed monster bucket can be missed, and a
          // mixed bucket this large means the band width, not the cap,
          // needs tuning.
          val pivots = math.min(8, docs.length)
          for {
            i <- (0 until pivots).iterator
            j <- (i + 1) until docs.length
            if jaccardSorted(docs(i)._3, docs(j)._3) >= threshold
          } yield (docs(i)._2, docs(j)._2)
        }
      }
      .toDF("id_a", "id_b")
      .distinct()
  }

  /**
   * The fused single-pass verify behind [[incrementalNearDup]] (round
   * 13): within-batch near-dup pairs AND index matches from ONE sorted
   * group-by-bucket pass over the union of the batch's banded rows
   * (tag 0) and the pruned index rows (tag 1).
   *
   * Semantics are identical by construction to the two passes it fuses:
   *  - tag-0 rows of a group are buffered in ascending-id order (the
   *    flatMapSortedGroups sort) and verified pairwise with EXACTLY
   *    [[pairsFromBandedRows]]'s logic, including the oversized-bucket
   *    pivot fallback (group membership is the batch rows only, so the
   *    maxBucketSize cutoff sees the same counts);
   *  - tag-1 rows then STREAM through: each is verified against the
   *    not-yet-matched batch docs (id inequality + Jaccard >= threshold
   *    — the old join's condition), with early exit per matched doc and
   *    per exhausted group, so the match SET equals the old
   *    join+distinct while index rows are never materialized per group.
   *
   * Output: (__k, __a, __b) — __k = 0 a verified within-batch pair
   * (__a < __b), __k = 1 an index match for batch doc __a (__b = 0).
   */
  private[operators] def fusedBucketVerify(banded: DataFrame,
                                           idxRows: Option[DataFrame],
                                           threshold: Double,
                                           maxBucketSize: Int): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    val tagged = banded.select(lit(0).as("__t"), col("__bucket"),
      col("__id"), col("__sh"))
    val fusedIn = idxRows match {
      case Some(idx) => tagged.unionAll(idx.select(lit(1).as("__t"),
        col("__bucket"), col("__id"), col("__sh")))
      case None => tagged
    }
    val th = threshold
    val mbs = maxBucketSize
    fusedIn.as[(Int, String, Long, Array[Long])]
      .groupByKey(_._2)
      .flatMapSortedGroups(col("__t"), col("__id")) { (_, it) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
        // phase 1: buffer the batch (tag-0) docs — they sort first,
        // ascending id, exactly pairsFromBandedRows' sortBy(_._2)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
        var pending: (Int, String, Long, Array[Long]) = null
        while (pending == null && it.hasNext) {
          val r = it.next()
          if (r._1 == 0) buf += ((r._3, r._4)) else pending = r
        }
        val docs = buf.toArray
        // within-batch pairs — IDENTICAL logic (incl. pivot fallback)
        // to pairsFromBandedRows over the same batch-only group
        if (docs.length <= mbs) {
          var i = 0
          while (i < docs.length) {
            var j = i + 1
            while (j < docs.length) {
              if (jaccardSorted(docs(i)._2, docs(j)._2) >= th)
                out += ((0, docs(i)._1, docs(j)._1))
              j += 1
            }
            i += 1
          }
        } else {
          val pivots = math.min(8, docs.length)
          var i = 0
          while (i < pivots) {
            var j = i + 1
            while (j < docs.length) {
              if (jaccardSorted(docs(i)._2, docs(j)._2) >= th)
                out += ((0, docs(i)._1, docs(j)._1))
              j += 1
            }
            i += 1
          }
        }
        // phase 2: stream the index (tag-1) rows through the verify;
        // early exit once every batch doc in the group has matched
        if (docs.nonEmpty && pending != null) {
          val matched = new Array[Boolean](docs.length)
          var unmatched = docs.length
          def probe(oid: Long, osh: Array[Long]): Unit = {
            var i = 0
            while (i < docs.length && unmatched > 0) {
              if (!matched(i) && docs(i)._1 != oid &&
                  jaccardSorted(docs(i)._2, osh) >= th) {
                matched(i) = true
                unmatched -= 1
                out += ((1, docs(i)._1, 0L))
              }
              i += 1
            }
          }
          probe(pending._3, pending._4)
          while (unmatched > 0 && it.hasNext) {
            val r = it.next()
            probe(r._3, r._4)
          }
        }
        out
      }
      .toDF("__k", "__a", "__b")
  }

  /** |A ∩ B| / |A ∪ B| over sorted distinct arrays (linear merge). */
  private[operators] def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /**
   * Duplicate-cluster resolution: (id, cluster_id = min id reachable) over
   * the verified-pair edge list. Hybrid strategy: a verified near-dup edge
   * list is sparse by construction (dedup implies few duplicates), so up
   * to `driverEdgeLimit` edges it is union-found on the driver in one
   * collect — no iterative jobs. Above the limit it falls back to
   * distributed min-id label propagation (one join + one min-aggregate per
   * round, O(log diameter) rounds), which is the 100 TB path.
   */
  def clusters(rawPairs: DataFrame, maxIter: Int = 20,
               driverEdgeLimit: Long = 5000000L): DataFrame = {
    val spark = rawPairs.sparkSession
    import spark.implicits._
    // cache: the size probe and the collect/propagation both consume the
    // full candidate lineage (signature UDF + joins) otherwise twice
    val pairs = rawPairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // single limited collect doubles as the size probe: limit+1 rows back
    // means "over the driver limit" without a separate count job
    val edges = pairs.select(col("id_a").cast(LongType), col("id_b").cast(LongType))
      .limit((driverEdgeLimit + 1).toInt)
      .as[(Long, Long)].collect()
    if (edges.length <= driverEdgeLimit) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = parent.keys.toSeq.map(id => (id, find(id)))
      pairs.unpersist(blocking = false)
      rows.toDF("id", "cluster_id")
    } else {
      val labels = clustersDistributed(pairs, maxIter)
      pairs.unpersist(blocking = false) // labels are cached + materialized
      labels
    }
  }

  /** Distributed min-id label propagation (the above-limit path). Only the
    * newest label generation stays materialized — stale generations and
    * the edge list are released as the loop advances (at scale a leaked
    * generation per round would crowd out executor storage).
    *
    * Two round-12 changes, both measured:
    *
    *  - Convergence check: per-vertex labels are NON-INCREASING under
    *    min-propagation and the vertex set is constant, so the exact sum
    *    of labels strictly decreases on every round that changes any
    *    label — "sum unchanged" ⟺ "no label changed". The sum runs as
    *    one decimal(38,0) scan-aggregate over the new generation,
    *    replacing the old per-round label join + filter + count — one
    *    whole join shuffle per round, removed. decimal(38,0) is exact
    *    out to ~10^28 rows of 2^63 labels, so the equality is never a
    *    float coincidence.
    *  - Lineage truncation: each round's plan references the previous
    *    generation TWICE (join + union), so an un-truncated logical
    *    tree doubles per round — 2^rounds nodes; a 15-round graph OOM'd
    *    the driver building plan strings before any task ran.
    *    `localCheckpoint` pins each generation as a materialized RDD
    *    and cuts the plan back to a leaf, making planning O(1) per
    *    round. (Local checkpoints trade executor-loss recoverability
    *    for speed — the right side of the trade for a bounded ≤20-round
    *    loop; a cluster deployment that must survive executor loss
    *    switches to reliable `checkpoint` with the same truncation
    *    effect.) */
  def clustersDistributed(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst").cache()
    var labels = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
      .withColumn("cluster_id", col("id"))
      .localCheckpoint()
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    // The checkpointed generation's PERSISTED blocks, released once
    // superseded. Round 13 (r12 ADVICE): unpersisting
    // queryExecution.toRdd was a no-op — toRdd on a localCheckpointed
    // Dataset returns a freshly derived wrapper RDD that was never
    // persisted, so every superseded generation stayed cached until GC.
    // The RDD that localCheckpoint actually persisted is the one inside
    // the Dataset's LogicalRDD leaf; unpersist THAT. (Safe: prev is
    // never read again once the new generation is materialized.)
    def checkpointRdds(df: DataFrame) =
      df.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val prev = labels
      labels = edges.join(prev, edges("dst") === prev("id"))
        .select(edges("src").as("id"), col("cluster_id"))
        .union(prev.select(col("id"), col("cluster_id")))
        .groupBy("id").agg(min("cluster_id").as("cluster_id"))
        .localCheckpoint() // eager: materializes the new generation
      val s = labelSum(labels)
      checkpointRdds(prev).foreach(_.unpersist(blocking = false))
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    edges.unpersist(blocking = false)
    labels
  }

  // ------------------------------------------- incremental (streaming) dedup

  /**
   * One incremental near-dup step: dedup `batch` against BOTH itself and a
   * persistent signature index (the banded (bucket, id, shingle-set) rows
   * of every previously kept doc), return the surviving rows, and append
   * their signature rows to the index.
   *
   * This is the scale-correct streaming shape: corpus-so-far state lives
   * in a [[graft.sources.GraftTable]] parquet index keyed by LSH bucket,
   * not in executor memory — at 100 TB no stream-state store holds the
   * corpus signatures. The index read is a manifest SNAPSHOT pruned to
   * the batch's bucket-key set (per-file [min, max] stats over the
   * range-clustered `__bkey`), so a small batch against a compacted
   * corpus-sized index opens a handful of files, and the bucket join
   * then prunes to colliding candidates exactly like the batch path.
   *
   * Semantics (deterministic given ids): a batch doc is dropped iff
   *  - some index doc shares a band bucket and verifies Jaccard >=
   *    threshold, or
   *  - it is in a within-batch near-dup cluster (same fused verify as
   *    `minhashNearDupPairs` + `clusters`) that contains an index-matched
   *    doc or a smaller-id survivor (keep-first-by-id, matching batch
   *    `exact`'s min-id rule; cluster transitivity mirrors the batch
   *    dedup pipeline, which drops all non-minimum members).
   *
   * The survivors read only the batch and a driver-local drop list (or,
   * past the driver cap, the persisted fused frame over an immutable
   * index SNAPSHOT resolved before the append), so the returned plan
   * never observes the batch's own docs in the index; the append job
   * itself materializes the persisted survivors for later consumers.
   */
  def incrementalNearDup(batch: DataFrame, indexDir: String,
                         textCol: String, idCol: String,
                         numHashes: Int, bands: Int, seed: Long = 42L,
                         shingleN: Int = 1, threshold: Double = 0.8,
                         maxBucketSize: Int = 4096): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val banded = bandedShingleRows(batch, textCol, idCol,
      numHashes, bands, seed, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // The index side (empty when no index yet). The index is a
      // GraftTable SNAPSHOT: the manifest names an immutable file list,
      // so the append at the end of this function can never leak the
      // batch's own survivors back into this read (the isolation the
      // old explicit file-list read provided, now by table semantics),
      // and the read PRUNES manifest-side to files whose clustered
      // __bkey range intersects the batch's bucket set — after
      // compaction a small batch against a huge index touches a handful
      // of files, not all of them. Key-set collect is bounded by
      // batch-docs x bands; past the cap the full snapshot reads.
      val idxRows: Option[DataFrame] =
        graft.sources.GraftTable.snapshotMeta(spark, indexDir)
          .filter(_.refs.nonEmpty).map { meta =>
          // Round 13: below a 32 MB index-size floor the bucket
          // prune cannot pay — collecting the batch's key set is a
          // Spark job (~0.3 s fixed) that saves at most `totalBytes` of
          // extra scan, so a provably tiny index reads whole. Pure
          // metadata decision (manifest byte sums, no data read); past
          // the floor — i.e. everywhere at scale — the pruned path runs
          // unchanged.
          val idxBytes = meta.refs.map(_.bytes).sum
          val idx =
            if (idxBytes <= (32L << 20))
              graft.sources.GraftTable.read(spark, indexDir)
            else {
              val maxPruneKeys = 1 << 20
              val batchKeys = banded
                .select(xxhash64(col("__bucket")).as("k")).distinct()
                .limit(maxPruneKeys + 1).as[Long].collect()
              if (batchKeys.length <= maxPruneKeys)
                graft.sources.GraftTable.readForBuckets(spark, indexDir,
                  batchKeys, residualFilter = false)
              else graft.sources.GraftTable.read(spark, indexDir)
            }
          idx.select(col("__bucket"), col("__id"), col("__sh"))
        }
      // FUSED verify pass (round 13): the index-probe join and the
      // within-batch pair join both key on the band bucket and both
      // verify Jaccard over the same shingle sets — one sorted
      // group-by-bucket pass over (batch banded rows ∪ pruned index
      // rows) emits BOTH candidate sets, replacing one join shuffle +
      // one groupByKey shuffle over the banded rows with a single
      // exchange (guide §2.4/§3.3). Within a group the batch docs
      // arrive first (sorted by tag, then id — the same ascending-id
      // order pairsFromBandedRows sorted into), are buffered (bounded
      // by the batch), and the index rows then STREAM through the
      // verify with early exit per matched doc — index rows are never
      // materialized per group, so a hot corpus bucket costs O(olds)
      // scans, not memory. Output rows: __k = 0 a verified within-batch
      // pair (__a < __b), __k = 1 an index match for batch doc __a.
      val fused = fusedBucketVerify(banded, idxRows, threshold, maxBucketSize)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      // Drop-set algebra (a cluster is poisoned when any member matched
      // the index; in clean clusters only the minimum id survives).
      // Round 13: ONE driver collect of the fused pass's output replaces
      // the round-12 three (matched ids, verified pairs via clusters()'s
      // internal edge collect, cluster rows) — both sets are
      // BATCH-bounded (|matched| <= batch docs, pairs capped by the
      // bucket pivot logic), the union-find below is clusters()'s own
      // driver algebra (duplicate edges across buckets are harmless to
      // it, so the pre-collect distinct shuffles are gone too), and the
      // anti-join gets a broadcast-able local drop list. Past the cap
      // the original distributed algebra runs over the PERSISTED fused
      // frame (r12 verdict: the un-persisted fallback recomputed the
      // banded×index verify — the expensive leg — twice).
      // override (tests force 0 to pin the distributed fallback branch)
      val maxDriverDrops = Integer.getInteger(
        "graft.dedup.maxDriverDrops", 1 << 22).intValue()
      val fusedRows = fused.limit(maxDriverDrops + 1)
        .as[(Int, Long, Long)].collect()
      val dropIds: DataFrame =
        if (fusedRows.length <= maxDriverDrops) {
          // same union-find as clusters()'s driver branch: min-id roots
          val parent = scala.collection.mutable.Map.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
            var c = x
            while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
            r
          }
          fusedRows.foreach { case (k, a, b) =>
            if (k == 0) {
              parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
              val (ra, rb) = (find(a), find(b))
              if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
            }
          }
          val matched = fusedRows.iterator.filter(_._1 == 1).map(_._2).toSet
          // poisoned clusters = clusters holding an index-matched member;
          // drops = matched ∪ poisoned-cluster members ∪ non-minimum
          // members of clean clusters — identical to the r12 set algebra
          // over clusters() rows (ids outside any pair have no cluster row)
          val poisonedC = matched.iterator
            .filter(parent.contains).map(find).toSet
          val drops = matched ++ parent.keys.filter { id =>
            val r = find(id); poisonedC(r) || id != r
          }
          broadcast(spark.createDataset(drops.toSeq).toDF("id"))
        } else {
          val indexMatched = fused.filter(col("__k") === 1)
            .select(col("__a").as("__id")).distinct()
          val pairs = fused.filter(col("__k") === 0)
            .select(col("__a").as("id_a"), col("__b").as("id_b")).distinct()
          val cl = clusters(pairs) // (id, cluster_id = min reachable id)
          val poisoned = cl.join(indexMatched, cl("id") === indexMatched("__id"))
            .select(col("cluster_id")).distinct()
          cl.join(broadcast(poisoned), Seq("cluster_id"), "left_semi")
            .select(col("id"))
            .union(cl.filter(col("id") =!= col("cluster_id")).select(col("id")))
            .union(indexMatched.select(col("__id").as("id")))
            .distinct()
        }
      val survivors = batch.join(dropIds,
          batch(idCol).cast(LongType) === dropIds("id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // No separate pinning count (round 13): the index read is an
      // immutable GraftTable SNAPSHOT resolved above, so a survivor
      // replay after the append can never observe the batch's own rows —
      // the append job below is the first action over `survivors` and
      // fills its cache for the caller's write/collect.
      val sigRows = banded
        .join(survivors.select(batch(idCol).cast(LongType).as("__sid")),
          col("__id") === col("__sid"), "left_semi")
        .withColumn("__bkey", xxhash64(col("__bucket")))
      graft.sources.GraftTable.append(sigRows, indexDir, "__bkey")
      survivors
      } finally fused.unpersist(blocking = false)
    } finally banded.unpersist(blocking = false)
  }

  // ------------------------------------------- streaming index ingestion

  private def commitMarkerPath(indexDir: String, batchId: Long) =
    new org.apache.hadoop.fs.Path(
      s"${indexDir.stripSuffix("/")}/_streaming_commits", f"batch-$batchId%012d")

  private def indexFs(spark: org.apache.spark.sql.SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Has this stream batch already been fully applied to the index?
    * (Marker files under `<indexDir>/_streaming_commits/`.) */
  def isIndexBatchCommitted(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String, batchId: Long): Boolean =
    indexFs(spark, indexDir).exists(commitMarkerPath(indexDir, batchId))

  /**
   * One foreachBatch body of the STREAMING index-ingestion leg: dedup
   * the microbatch against the standing index ([[incrementalNearDup]]),
   * write its survivors to `<survivorsDir>/batch-<id>` (overwrite —
   * idempotent under replay), and mark the batch committed.
   *
   * Restart semantics (the foreachBatch contract: a batch MAY be
   * replayed after a failure, with the same batchId):
   *  - a batch whose commit marker exists is skipped entirely — the
   *    exactly-once gate;
   *  - a replay that crashed BEFORE the index append recomputes from
   *    unchanged state — identical by determinism;
   *  - a replay that crashed AFTER the append but before the marker
   *    recomputes against an index already holding this batch's
   *    survivor signatures. The survivor set is UNCHANGED: a doc's own
   *    signature rows never match it (`__id` inequality in the index
   *    probe), and two survivors of one batch are never near-dups of
   *    each other (they'd have shared a within-batch cluster). The
   *    re-append leaves duplicate signature rows — benign for matching
   *    (candidates are distinct-ed on id) and bounded to one batch;
   *    [[compactIndex]]'s rewrite carries them until an exact-dedup
   *    maintenance pass, which correctness never requires.
   */
  def processIndexBatch(batch: DataFrame, batchId: Long, indexDir: String,
                        survivorsDir: String, textCol: String, idCol: String,
                        numHashes: Int, bands: Int, seed: Long = 42L,
                        shingleN: Int = 1, threshold: Double = 0.8,
                        maxBucketSize: Int = 4096): Unit = {
    val spark = batch.sparkSession
    if (isIndexBatchCommitted(spark, indexDir, batchId)) return
    val survivors = incrementalNearDup(batch, indexDir, textCol, idCol,
      numHashes, bands, seed, shingleN, threshold, maxBucketSize)
    survivors.write.mode("overwrite")
      .parquet(s"${survivorsDir.stripSuffix("/")}/batch-$batchId")
    survivors.unpersist(blocking = false)
    val f = indexFs(spark, indexDir)
    val marker = commitMarkerPath(indexDir, batchId)
    if (!f.exists(marker.getParent)) f.mkdirs(marker.getParent)
    f.create(marker, true).close() // last step: presence == fully applied
  }

  /**
   * The streaming sink leg of the incremental near-dup index: a
   * `foreachBatch` writer that feeds every microbatch through
   * [[processIndexBatch]] — the GraftTable gets one atomic manifest
   * publish per microbatch, survivors land as per-batch parquet, and
   * the commit markers make restarts exactly-once at the batch level.
   * Pair with the stream's own checkpoint (`checkpointDir`) so a
   * restarted query resumes at the first unprocessed source offset.
   *
   * At 100 TB this is the ingestion front door: corpus-so-far state is
   * the manifest-pruned parquet index, stream state is only source
   * offsets — no executor-memory signature store to size or lose.
   */
  def incrementalNearDupSink(stream: DataFrame, indexDir: String,
                             survivorsDir: String, checkpointDir: String,
                             textCol: String, idCol: String,
                             numHashes: Int, bands: Int, seed: Long = 42L,
                             shingleN: Int = 1, threshold: Double = 0.8,
                             maxBucketSize: Int = 4096, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processIndexBatch(batch, batchId, indexDir, survivorsDir,
          textCol, idCol, numHashes, bands, seed, shingleN, threshold,
          maxBucketSize)
        // index maintenance from the single-writer path, AFTER the
        // batch's commit marker: a crash here only defers compaction
        // to a later batch, never loses or replays rows
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          compactIndex(batch.sparkSession, indexDir)
        ()
      }
      .start()

  /**
   * Compaction of the incremental signature index — now a
   * [[graft.sources.GraftTable]] maintenance call: [[incrementalNearDup]]
   * appends one snapshot per microbatch, so a long-lived stream accretes
   * many small files and every batch's index read pays their open/footer
   * cost. Compaction rewrites the live snapshot into
   * ~`targetFileBytes`-sized files RANGE-CLUSTERED by the `__bkey`
   * bucket hash — which is exactly what makes the manifest's per-file
   * [min, max] stats selective, so the next batch's pruned read touches
   * a handful of files — publishes it atomically, and expires the
   * superseded snapshots (single-writer maintenance; nothing replays
   * old index snapshots). Run it from the stream's maintenance path,
   * between batches.
   *
   * Invariant: the set of signature rows is unchanged (spec-pinned);
   * only the file layout changes. Returns (files before, files after);
   * a no-op below `minFiles` or when compaction would not shrink.
   */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                   targetFileBytes: Long = 128L << 20,
                   minFiles: Int = 8): (Int, Int) = {
    require(targetFileBytes > 0 && minFiles >= 2, "bad compaction params")
    val before = graft.sources.GraftTable.snapshotMeta(spark, indexDir)
      .map(_.refs.map(_.nFiles).sum).getOrElse(0)
    if (before < minFiles) return (before, before)
    val snap = graft.sources.GraftTable.compact(
      spark, indexDir, targetFileBytes, minFiles)
    // single-writer maintenance path: nothing replays old snapshots of
    // the index, so expire to the compacted one immediately
    graft.sources.GraftTable.expire(spark, indexDir, keepSnapshots = 1)
    (before, snap.files.length)
  }

  /**
   * Streaming MinHash near-dup dedup: `foreachBatch` over
   * [[incrementalNearDup]] — each microbatch is deduped against itself
   * and every previously kept doc, survivors land in `survivorDir`.
   * foreachBatch (not flatMapGroupsWithState) is deliberate: a doc spans
   * `bands` bucket keys, so any per-key stream state would need a second
   * stateful stage to combine per-bucket verdicts per doc, while the
   * index join resolves all buckets in one shot and keeps corpus state
   * out of the state store entirely.
   */
  /** Alias for [[incrementalNearDupSink]] — the original name of the
    * streaming leg. Round 12 replaced its mode("append") survivor
    * writes (which double-wrote on a foreachBatch replay) with the
    * commit-marked per-batch path: survivors land under
    * `<survivorDir>/batch-<id>` (overwrite — idempotent) and replayed
    * batches are skipped via `_streaming_commits` markers. */
  def nearDupStream(stream: DataFrame, indexDir: String, survivorDir: String,
                    checkpointDir: String, textCol: String, idCol: String,
                    numHashes: Int, bands: Int, seed: Long = 42L,
                    shingleN: Int = 1, threshold: Double = 0.8,
                    maxBucketSize: Int = 4096, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incrementalNearDupSink(stream, indexDir, survivorDir, checkpointDir,
      textCol, idCol, numHashes, bands, seed, shingleN, threshold,
      maxBucketSize, compactEvery)

  // -------------------------------------------------------------- simhash

  /**
   * SimHash document fingerprint: each token votes +1/-1 per bit of its
   * md5-derived hash; the sign of the per-bit sum forms the fingerprint.
   * Pure expressions (explode + groupBy + bit fold) — near-dup docs land
   * on fingerprints within small Hamming distance.
   */
  /** Whole simhash fingerprint in one tight JVM loop per document —
    * semantically identical to the explode + per-bit-sum aggregate form
    * (distinct units, +1/-1 votes per md5 bit, sign fold) but one UDF
    * call per doc instead of shuffling |docs|x|units| exploded rows into
    * a `bits`-column aggregate (110s -> ~2s on the 100x corpus). */
  private[operators] def simhashFpJvm(text: String, bits: Int, shingleN: Int): Long = {
    val words = wsPattern.split(text.toLowerCase)
    val votes = new Array[Int](bits)
    val seen = scala.collection.mutable.HashSet.empty[String]
    def vote(unit: String): Unit = if (seen.add(unit)) {
      val h = md5LongJvm(unit)
      var b = 0
      while (b < bits) {
        votes(b) += ((((h >>> b) & 1L) << 1) - 1).toInt
        b += 1
      }
    }
    if (shingleN == 1) {
      var i = 0
      while (i < words.length) { vote(words(i)); i += 1 }
    } else {
      var i = 0
      while (i + shingleN <= words.length) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < shingleN) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        vote(sb.toString)
        i += 1
      }
    }
    var fp = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) fp |= 1L << b; b += 1 }
    fp
  }

  def simhash(df: DataFrame, textCol: String, idCol: String, bits: Int = 60,
              shingleN: Int = 1): DataFrame = {
    require(bits <= 60, "md5Long carries 60 bits") // 64-bit variant would need 16 more hex digits
    // shingleN > 1 votes with word n-grams instead of unigrams — on a
    // shared-vocabulary corpus unigram token SETS repeat across unrelated
    // docs, collapsing their fingerprints (the same flood minhash hit);
    // 3-gram structure is what actually distinguishes documents
    val fpUdf = udf((text: String) => simhashFpJvm(text, bits, shingleN))
    df.select(col(idCol), fpUdf(col(textCol)).as("simhash"))
  }

  /** Hamming distance between two simhash fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dup pairs within `radius` Hamming distance. The
   * fingerprint is cut into radius+1 bands: any pair within the radius
   * must agree EXACTLY on at least one band (pigeonhole), so candidate
   * generation is a band-value hash join — the exact candidate superset,
   * no recall loss — then one bit_count verify. Band width (bits/(r+1))
   * is the scale lever: 15-bit bands keep expected bucket sizes at
   * n/32768 per band, so bucket-local pairing stays near-linear where a
   * 4-bit-band layout would go quadratic on a large corpus.
   */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          bits: Int = 60, radius: Int = 3,
                          shingleN: Int = 3): DataFrame = {
    val bands = radius + 1
    require(bits % bands == 0, s"bits ($bits) must divide into radius+1 ($bands) bands")
    val width = bits / bands
    val mask = (1L << width) - 1
    val fp = simhash(df, textCol, idCol, bits, shingleN)
    val banded = fp.select(col(idCol).as("__id"), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("simhash"), b * width).bitwiseAND(mask)): _*))
        .as(Seq("__band", "__bval")))
    banded.as("l").join(banded.as("r"),
        col("l.__band") === col("r.__band") && col("l.__bval") === col("r.__bval") &&
          col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        hamming(col("l.simhash"), col("r.simhash")).as("hamming"))
      .filter(col("hamming") <= radius)
      .distinct()
  }

  // --------------------------------------------- embedding-cosine near-dup

  /**
   * Embedding-space near-duplicate pairs: random-hyperplane LSH buckets
   * (Similarity.lshBuckets) restrict candidates, then exact cosine >=
   * `threshold` verifies. Same shape as the MinHash pipeline — banded
   * candidates, exact verify, feed `clusters` — but over vectors, so it
   * catches semantic dups that share no tokens. Candidate generation is a
   * hash join on the bucket id; no O(n^2) pairing.
   */
  /** @param nbits  bits per table; 0 = auto-size so the expected bucket
    *               holds ~`targetBucket` vectors (log2(n/targetBucket)) —
    *               bucket-local pairing stays O(n·targetBucket) at ANY
    *               corpus size instead of going quadratic as n grows past
    *               a fixed bucket count
    * @param tables OR over this many independent hyperplane tables — the
    *               standard LSH recall knob (recall = 1-(1-p^nbits)^tables
    *               where p = 1-θ/π); pairs found by several tables are
    *               deduped before emit */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, nbits: Int, dims: Int,
                            seed: Long = 42L, tables: Int = 1,
                            targetBucket: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val src = df.select(col(idCol).cast(LongType),
      col(vecCol).cast(ArrayType(DoubleType))).as[(Long, Array[Double])]
    val b =
      if (nbits > 0) nbits
      else {
        val n = src.count()
        math.max(2, math.ceil(
          math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).toInt)
      }
    require(b * tables <= 62, s"bits per table ($b) x tables ($tables) must fit a long")
    val planes = Similarity.hyperplanes(b * tables, dims, seed)
    val bc = spark.sparkContext.broadcast(planes)
    // One shuffle of the VECTORS on (table, bucket), then bucket-local
    // quadratic pairing in primitive arrays — candidate pair rows are
    // never materialized, only survivors are emitted. A bucket must fit
    // in executor memory, which auto-sizing guarantees in expectation.
    val keyed = src.flatMap { case (id, v) =>
      var sig = 0L
      var i = 0
      while (i < bc.value.length) {
        if (graft.core.VecOps.dot(v, bc.value(i)) >= 0) sig |= 1L << i
        i += 1
      }
      val mask = (1L << b) - 1
      (0 until tables).iterator.map { t =>
        ((t.toLong << b) | ((sig >>> (t * b)) & mask), id, v)
      }
    }
    val pairs = keyed.groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val norms = rows.map(r => graft.core.VecOps.norm2(r._3))
        for {
          i <- rows.indices.iterator
          j <- (i + 1) until rows.length
          cos = graft.core.VecOps.dot(rows(i)._3, rows(j)._3) / (norms(i) * norms(j))
          if cos >= threshold
        } yield {
          val (a, bb) = if (rows(i)._2 < rows(j)._2) (i, j) else (j, i)
          (rows(a)._2, rows(bb)._2,
            BigDecimal(graft.core.VecOps.dot(rows(a)._3, rows(bb)._3) / (norms(a) * norms(bb)))
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
      .toDF("id_a", "id_b", "cosine")
    if (tables == 1) pairs else pairs.distinct()
  }

  /**
   * Semantic dedup (Abbas et al. 2023, "SemDeDup: Data-efficient
   * learning at web-scale through semantic deduplication"): partition
   * the embedding space into k centroid cells, then within each cell
   * drop every vector whose cosine to a LOWER-id cell member reaches
   * `tau` — the lowest id of each semantic-duplicate chain survives.
   * The clustering is a deterministic one-pass assignment against a
   * hash-sampled centroid set (the KMeansDet init rule: smallest md5
   * prefix of the id), so the whole operator — centroids, assignment,
   * tie-breaks, drops — replays exactly in any engine.
   *
   * Output: (`idCol`, cluster_id, max_cos_lower, kept) — one row per
   * vector; max_cos_lower is null for the lowest id in its cell.
   *
   * Scale shape (100 TB): k auto-sizes as n/targetClusterSize (capped
   * at `maxCentroids` — the centroid array is an O(k·d) broadcast
   * model, and beyond the cap mean cell size grows instead, the
   * paper's own regime: they run 50k centroids over 8B embeddings).
   * Assignment is one scan against the broadcast (no join); the ONLY
   * shuffle keys vectors by cell, and pairing is cell-local in
   * primitive arrays — candidate pairs never materialize as rows.
   * Within-cell work is quadratic in cell size BY DESIGN (that is
   * SemDeDup's cost model); targetClusterSize is the lever, and a cell
   * must fit in executor memory like the LSH buckets above.
   */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, tau: Double,
               targetClusterSize: Int = 256,
               maxCentroids: Int = 65536): DataFrame = {
    require(targetClusterSize >= 2, s"targetClusterSize must be >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    val src = df.select(col(idCol).cast(LongType).as("__id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("__v")).as[(Long, Array[Double])]
    val n = src.count()
    val k = math.min(maxCentroids.toLong,
      math.max(2L, (n + targetClusterSize - 1) / targetClusterSize)).toInt
    // same deterministic hash-sample as KMeansDet.init: fixed-width hex
    // prefix sorts identically to its 60-bit numeric value
    val h = substring(md5(col("__id").cast("string")), 1, 15)
    val cents: Array[Array[Double]] = src.toDF()
      .orderBy(h.asc, col("__id").asc).limit(k)
      .select(col("__v")).as[Array[Double]].collect()
    val bc = spark.sparkContext.broadcast(cents)
    src
      .map { case (id, v) =>
        val cs = bc.value
        var best = 0; var bestD = Double.MaxValue
        var i = 0
        while (i < cs.length) {
          val s = graft.core.VecOps.sqDist(v, cs(i))
          if (s < bestD) { bestD = s; best = i }
          i += 1
        }
        (best, id, v)
      }
      .groupByKey(_._1)
      .flatMapGroups { (cid, it) =>
        val rows = it.toArray.sortBy(_._2)
        val norms = rows.map(r => graft.core.VecOps.norm2(r._3))
        rows.indices.iterator.map { j =>
          var mx = Double.NegativeInfinity
          var i = 0
          while (i < j) {
            val c = graft.core.VecOps.dot(rows(i)._3, rows(j)._3) / (norms(i) * norms(j))
            // NaN cosine (zero-norm vector) carries no similarity
            // evidence: skip it rather than poison the max (and the
            // BigDecimal rounding, which throws on non-finite input)
            if (!c.isNaN && c > mx) mx = c
            i += 1
          }
          val noLower = j == 0 || mx == Double.NegativeInfinity
          val mxOpt = if (noLower) None
            else Some(BigDecimal(mx).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
          (rows(j)._2, cid, mxOpt, if (noLower || mx < tau) 1 else 0)
        }
      }
      .toDF(idCol, "cluster_id", "max_cos_lower", "kept")
  }

  // -------------------------------------------------- decontamination

  /**
   * Benchmark decontamination: per document, the fraction of its hashed
   * n-gram shingle set that appears in ANY benchmark document — the
   * eval-set overlap check a training-data pipeline runs before mixing.
   * The benchmark shingle set is collected and broadcast (eval sets are
   * small by construction — if yours isn't, it's a corpus, not a
   * benchmark); each corpus document then scores in one scan via binary
   * search, no join, no shuffle.
   */
  def contamination(docs: DataFrame, textCol: String, idCol: String,
                    bench: DataFrame, benchTextCol: String,
                    shingleN: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val benchSh = bench
      .select(explode(hashedTokens(col(benchTextCol), shingleN)).as("h"))
      .distinct().as[Long].collect().sorted
    val bc = spark.sparkContext.broadcast(benchSh)
    val hitUdf = udf { (text: String) =>
      val sh = shingleHashes(text, shingleN)
      var hits = 0
      var i = 0
      while (i < sh.length) {
        if (java.util.Arrays.binarySearch(bc.value, sh(i)) >= 0) hits += 1
        i += 1
      }
      (sh.length, hits)
    }
    docs.select(col(idCol), hitUdf(col(textCol)).as("__c"))
      .select(col(idCol), col("__c._1").as("n_shingles"),
        col("__c._2").as("n_contaminated"))
      .withColumn("contamination", when(col("n_shingles") > 0,
        col("n_contaminated").cast(DoubleType) / col("n_shingles"))
        .otherwise(lit(0.0)))
  }

  /**
   * Join-path containment: the third leg of the decontamination triad.
   * [[contamination]] broadcasts the reference shingle set (right when
   * the reference is an eval benchmark); [[bloomContamination]] squeezes
   * it to a bitset (right when it is large but broadcastable at some
   * FPR); THIS is the shape for when the reference is itself
   * corpus-sized — the previous crawl snapshot, a 100 TB "have we seen
   * this before" set — and nothing about it may touch the driver.
   *
   * Plan: both sides explode to hashed shingles; the reference side
   * dedups with a map-side-combining agg; one shingle-keyed join (AQE
   * skew-safe — hot shingles were deduped to one reference row) feeds a
   * per-doc count. No collect, no broadcast, no state: two shuffles
   * total, both on the shingle key, at any reference size. Skew honesty:
   * the REFERENCE side cannot skew (deduped to one row per shingle
   * before the join), but a shingle hot on the PROBE side (a phrase in
   * every doc) still concentrates left rows on one reducer in the
   * shuffle-join regime — that is the standard AQE skew-split case
   * (sort-merge join, left side), not something this operator must
   * re-solve; under a small reference AQE broadcasts and the left side
   * never shuffles at all. Semantics
   * match [[contamination]] (n_seen == n_contaminated for the same
   * reference — spec-asserted), except null-text docs emit no row here
   * (the novelty-style convention) rather than a zero row.
   */
  def containmentJoin(docs: DataFrame, textCol: String, idCol: String,
                      ref: DataFrame, refTextCol: String,
                      shingleN: Int = 3): DataFrame = {
    val docSh = docShingles(docs, textCol, idCol, shingleN)
    val refSh = ref
      .select(explode(hashedTokens(col(refTextCol), shingleN)).as("__sh"))
      .distinct() // partial-agg dedup: collapses hot shingles map-side
      .withColumn("__hit", lit(1))
    // ONE pass over the probe shingles: a left join against the deduped
    // reference (no fanout — __sh is unique there) tags each shingle,
    // and a single per-doc agg reads both counts off the tagged rows.
    // The earlier two-branch shape (left_semi for n_seen + a second
    // groupBy for n_shingles) exploded and shuffled the corpus-side
    // shingles twice — the dominant cost at any scale, and exactly the
    // work Catalyst's join elimination used to hide from the old
    // count()-based bench
    val perDoc = docSh.join(refSh, Seq("__sh"), "left")
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_seen"))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol))
      .join(perDoc.withColumnRenamed("__doc", idCol), Seq(idCol), "left")
      .withColumn("n_shingles", coalesce(col("n_shingles"), lit(0L)))
      .withColumn("n_seen", coalesce(col("n_seen"), lit(0L)))
      .withColumn("containment", when(col("n_shingles") > 0,
        col("n_seen").cast(DoubleType) / col("n_shingles"))
        .otherwise(lit(0.0)))
  }

  /**
   * Bloom-filter decontamination: [[contamination]]'s membership check
   * with the benchmark compressed to an `mBits`-bit Bloom filter
   * (Bloom 1970) — `k` md5-derived positions per shingle — instead of the
   * sorted shingle array. One-sided error by construction: a contaminated
   * shingle ALWAYS hits (no false negatives, so the filter's pass-set is
   * a superset of the exact check's); a clean shingle hits with
   * probability ~(setBits/mBits)^k.
   *
   * Why this exists at 100 TB: the exact broadcast is 8 bytes/shingle
   * (a 10^9-shingle benchmark suite = 8 GB per executor, plus a binary
   * search per probe); the Bloom bitset at 1% FPR is ~1.2 GB and probes
   * k cache lines. Positions are md5-derived from the shingle hash —
   * fully deterministic, so the same document flags identically at any
   * scale/partitioning, and the DuckDB oracle replays the exact same
   * bits, FALSE POSITIVES INCLUDED (the registered query uses a
   * deliberately small mBits so the FP path is exercised and checked,
   * not just reasoned about). Build side collapses to <= mBits distinct
   * positions before the collect — the driver never holds the benchmark
   * shingle set, only the bitset, bounded by the mBits parameter.
   */
  def bloomContamination(docs: DataFrame, textCol: String, idCol: String,
                         bench: DataFrame, benchTextCol: String,
                         shingleN: Int = 3, mBits: Int = 1 << 20,
                         k: Int = 4): DataFrame = {
    require(mBits > 0 && Integer.bitCount(mBits) == 1,
      s"mBits must be a positive power of two, got $mBits")
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    def posCol(h: Column, i: Column): Column =
      md5Long(concat(lit("bl"), i.cast(StringType), lit("_"),
        h.cast(StringType))) % mBits
    val positions = bench
      .select(explode(hashedTokens(col(benchTextCol), shingleN)).as("h"))
      .distinct()
      .select(explode(transform(sequence(lit(0), lit(k - 1)),
        i => posCol(col("h"), i))).as("p"))
      .distinct()                        // <= mBits rows by construction
      .as[Long].collect()
    val words = new Array[Long](mBits >> 6 max 1)
    positions.foreach(p => words((p >> 6).toInt) |= 1L << (p & 63))
    val bc = spark.sparkContext.broadcast(words)
    val probeUdf = udf { (text: String) =>
      if (text == null) (0, 0)
      else {
        val sh = shingleHashes(text, shingleN)
        var hits = 0
        var i = 0
        while (i < sh.length) {
          var all = true
          var j = 0
          while (all && j < k) {
            val p = (md5LongJvm("bl" + j + "_" + sh(i)) % mBits).toInt
            if ((bc.value(p >> 6) & (1L << (p & 63))) == 0L) all = false
            j += 1
          }
          if (all) hits += 1
          i += 1
        }
        (sh.length, hits)
      }
    }
    docs.select(col(idCol), probeUdf(col(textCol)).as("__b"))
      .select(col(idCol), col("__b._1").as("n_shingles"),
        col("__b._2").as("n_bloom_hits"))
      .withColumn("bloom_frac", when(col("n_shingles") > 0,
        col("n_bloom_hits").cast(DoubleType) / col("n_shingles"))
        .otherwise(lit(0.0)))
      .withColumn("flagged", (col("n_bloom_hits") > 0).cast(IntegerType))
  }

  // ------------------------------------------------------- n-gram jaccard

  /**
   * N-gram Jaccard similarity for candidate pairs: |A ∩ B| / |A ∪ B| over
   * distinct word n-grams. Used as the exact verify pass after LSH
   * candidate generation (broadcastable expression form, no UDF).
   */
  def ngramJaccard(pairs: DataFrame, leftText: Column, rightText: Column,
                   n: Int): Column = {
    val a = shingles(leftText, n); val b = shingles(rightText, n)
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    // |A ∪ B| = |A| + |B| − |A ∩ B| — both sides are DISTINCT shingle
    // sets by construction, so the identity is exact and the union
    // array never materializes (one hash-probe pass per pair, not two)
    val union = size(a).cast(DoubleType) + size(b).cast(DoubleType) - inter
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** The scale tier of [[ngramJaccard]]: tokenization stays a Column
    * (split+lower evaluated ONCE per side), the distinct-set build and
    * intersection run as one fused JVM hash-set kernel — the
    * Column-chain array_distinct/array_intersect pair measured ~3 ms
    * core per pair on corpus-sized docs where the hash-set pass is
    * tens of µs (the same lambda/set-op lesson as the fused minhash
    * verify, dedup.scala:240). Values are identical by construction:
    * the same split(lower(.)) tokens go in, |A∩B|/|A∪B| over distinct
    * n-gram sets comes out, nulls score 0.0 — equality with the
    * Column form is spec-pinned. */
  def ngramJaccardFused(leftText: Column, rightText: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val nn = n
    val f = udf { (wa: Seq[String], wb: Seq[String]) =>
      if (wa == null || wb == null) 0.0
      else {
        def sset(ws: Seq[String]): java.util.HashSet[String] = {
          val s = new java.util.HashSet[String](ws.length * 2)
          if (nn == 1) ws.foreach(s.add)
          else {
            val arr = ws.toArray
            val sb = new java.lang.StringBuilder
            var i = 0
            while (i + nn <= arr.length) {
              sb.setLength(0)
              var j = 0
              while (j < nn) {
                if (j > 0) sb.append(' ')
                sb.append(arr(i + j))
                j += 1
              }
              s.add(sb.toString)
              i += 1
            }
          }
          s
        }
        val setA = sset(wa)
        val setB = sset(wb)
        val (small, big) =
          if (setA.size <= setB.size) (setA, setB) else (setB, setA)
        var inter = 0
        val it = small.iterator()
        while (it.hasNext) if (big.contains(it.next())) inter += 1
        val union = setA.size + setB.size - inter
        if (union == 0) 0.0 else inter.toDouble / union
      }
    }
    f(split(lower(leftText), "\\s+"), split(lower(rightText), "\\s+"))
  }

  // -------------------------------------------- line-level boilerplate

  /**
   * Line-level boilerplate removal (the CCNet/RefinedWeb cleaning step):
   * a line occurring in at least `minDocs` DISTINCT documents is
   * boilerplate — headers, footers, nav chrome, cookie banners — and is
   * dropped from every document; each document's text is reassembled
   * from its surviving lines in original order. Documents whose every
   * line is boilerplate disappear (their text would be empty). Output:
   * `idCol`, rebuilt `textCol`, `n_lines_kept`, `n_lines_removed`.
   *
   * Scale shape: split+posexplode is generator-shaped (no shuffle);
   * per-line distinct-doc counts are two partial-aggregated exchanges
   * on the line key — the same cost class as [[exact]] dedup. The hot
   * set is by definition tiny relative to the corpus (lines repeated
   * across >= minDocs docs), so it is collected ONCE (capped at
   * `maxHotLines` — the collect doubles as the guard against a
   * degenerate threshold where the "hot" set approaches the corpus'
   * line diversity) and rejoined as a LITERAL broadcast table: no
   * lineage, so the execution never re-runs the counting pipeline a
   * second time — which matters when this op sits mid-composition and
   * its upstream is itself expensive. Reassembly is ONE hash aggregate
   * per doc: collect_list skips the nulls the hot-join marked,
   * sort_array restores line order, and the struct-field extraction
   * (`s.line`) + concat_ws stay codegen'd — no higher-order function
   * touches a per-line row.
   */
  def removeBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
                             sep: String = "\n", minDocs: Int = 3,
                             maxHotLines: Int = 1000000): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs): at 1 every line is boilerplate")
    val spark = df.sparkSession
    val lines = df.select(col(idCol), posexplode(
      split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("__pos", "__line")))
    val hotRows = lines.select(col("__line"), col(idCol)).distinct()
      .groupBy(col("__line")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__line"))
      .limit(maxHotLines + 1).collect()
    require(hotRows.length <= maxHotLines,
      s"more than $maxHotLines boilerplate lines at minDocs=$minDocs: the " +
        s"threshold marks a large fraction of the corpus' distinct lines as " +
        s"boilerplate (broadcast would not fit). Raise minDocs or maxHotLines.")
    import scala.jdk.CollectionConverters._
    val hot = spark.createDataFrame(
      hotRows.map(r => org.apache.spark.sql.Row(r.getString(0), 1)).toList.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__line", StringType, nullable = true),
        org.apache.spark.sql.types.StructField("__hot", IntegerType, nullable = false))))
    lines.join(broadcast(hot), Seq("__line"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"),
        sort_array(collect_list(when(col("__hot").isNull,
          struct(col("__pos").as("p"), col("__line").as("line"))))).as("__s"))
      .filter(size(col("__s")) > 0)
      .select(col(idCol),
        concat_ws(sep, col("__s.line")).as(textCol),
        size(col("__s")).cast(LongType).as("n_lines_kept"),
        (col("__n") - size(col("__s"))).cast(LongType).as("n_lines_removed"))
  }

  // ---------------------------------------------- substring/span dedup

  /**
   * Substring-level (span) dedup — the "50-token span appears in N docs"
   * pass every production corpus runs (the suffix-array dedup of Lee et
   * al. 2022, "Deduplicating Training Data Makes Language Models Better",
   * re-expressed as a distributed k-gram coverage pass): a token WINDOW
   * of `spanTokens` words whose rolling hash occurs in at least `minDocs`
   * DISTINCT documents marks every token it covers; each document is
   * rebuilt from its uncovered tokens in original order. Unlike
   * [[removeBoilerplateLines]] (whole segments at a fixed separator),
   * spans are position-free — any repeated run of `spanTokens`+ words is
   * cut wherever it appears, and overlapping hot windows merge into one
   * removed region, so a repeated 80-token block is fully excised by its
   * 80−k+1 hot k-windows. Documents left with zero tokens disappear
   * (mirroring removeBoilerplateLines). Output: `idCol`, rebuilt
   * `textCol` (single-space joined lowercase tokens), `n_tokens_kept`,
   * `n_tokens_removed`.
   *
   * Scale shape (100 TB): pass 1 emits DISTINCT span hashes per doc from
   * one fused JVM kernel (one md5 per word, rolling combine — no shingle
   * strings), so the only corpus-sized shuffle is the partial-aggregated
   * hash→doc-count exchange; the hot set (spans repeated across >=
   * minDocs docs) is tiny by definition and is collect-capped at
   * `maxHotSpans` (limit+1 probe — a degenerate threshold fails fast
   * naming the knob) and broadcast as a sorted primitive array; pass 2
   * rebuilds every doc in ONE scan via binary search — zero shuffle, no
   * join, no window. Candidate pairs never materialize anywhere.
   */
  def removeRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
                          spanTokens: Int, minDocs: Int = 2,
                          maxHotSpans: Int = 1000000): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2 (got $spanTokens)")
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs): at 1 every span is hot")
    val spark = df.sparkSession
    import spark.implicits._
    val k = spanTokens
    val spanUdf = udf { (text: String) =>
      rollingHashes(wordHashes(text), k).distinct
    }
    // null-text docs vanish, like zero-token docs below
    val src = df.filter(col(textCol).isNotNull)
    val hot = src.select(explode(spanUdf(col(textCol))).as("__h"))
      .groupBy(col("__h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h")).limit(maxHotSpans + 1)
      .as[Long].collect()
    require(hot.length <= maxHotSpans,
      s"more than $maxHotSpans hot spans at spanTokens=$spanTokens, minDocs=$minDocs: " +
        "the span length is too short for this corpus (broadcast would not fit). " +
        "Raise spanTokens/minDocs or maxHotSpans.")
    java.util.Arrays.sort(hot)
    val bc = spark.sparkContext.broadcast(hot)
    src.select(col(idCol), spanCutUdf(bc, k)(col(textCol)).as("__r"))
      .filter(col("__r._2") > 0)
      .select(col(idCol),
        col("__r._1").as(textCol),
        col("__r._2").cast(LongType).as("n_tokens_kept"),
        col("__r._3").cast(LongType).as("n_tokens_removed"))
  }

  /** Positional span-cut kernel shared by [[removeRepeatedSpans]] and
    * [[redactContamination]]: mark every token covered by any k-window
    * whose rolling hash is in the sorted hot array, rebuild the text from
    * the survivors. Returns (rebuilt text, kept, removed). */
  private def spanCutUdf(
      bc: org.apache.spark.broadcast.Broadcast[Array[Long]], k: Int) =
    udf { (text: String) =>
      val words = wsPattern.split(text.toLowerCase)
      val wh = words.map(w => md5LongJvm(w) % P)
      val spans = rollingHashes(wh, k)
      val covered = new Array[Boolean](words.length)
      var i = 0
      while (i < spans.length) {
        if (java.util.Arrays.binarySearch(bc.value, spans(i)) >= 0) {
          var j = i
          val end = i + k
          while (j < end) { covered(j) = true; j += 1 }
        }
        i += 1
      }
      val sb = new java.lang.StringBuilder
      var kept = 0
      i = 0
      while (i < words.length) {
        if (!covered(i)) {
          if (kept > 0) sb.append(' ')
          sb.append(words(i))
          kept += 1
        }
        i += 1
      }
      (sb.toString, kept, words.length - kept)
    }

  /**
   * Decontamination by REDACTION — the third response to benchmark
   * overlap after flagging ([[contamination]]) and dropping (the
   * curate-pipeline gates): cut ONLY the spans that overlap the
   * benchmark and keep the rest of the document, the Lee-et-al-style
   * surgical alternative to discarding a 50k-token document over one
   * quoted test question. Every token covered by any `spanTokens`-window
   * whose rolling hash appears anywhere in the benchmark is removed,
   * with positional reassembly of the survivors; fully-contaminated
   * documents vanish (kept == 0), exactly like fully-boilerplate docs in
   * [[removeRepeatedSpans]].
   *
   * Scale shape: the benchmark side collapses to its distinct span
   * hashes (eval suites are small; the limit+1 guard fail-fasts with the
   * remedy if yours is not — at which point the drop-based join path is
   * the right tool); the corpus pass is one zero-shuffle scan with the
   * sorted span array broadcast, binary-search per window — the same
   * shape as [[removeRepeatedSpans]]' rebuild.
   */
  def redactContamination(docs: DataFrame, textCol: String, idCol: String,
                          bench: DataFrame, benchTextCol: String,
                          spanTokens: Int, maxBenchSpans: Int = 5000000)
      : DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2 (got $spanTokens)")
    val spark = docs.sparkSession
    import spark.implicits._
    val k = spanTokens
    val spanUdf = udf { (text: String) =>
      rollingHashes(wordHashes(text), k).distinct
    }
    val hot = bench.filter(col(benchTextCol).isNotNull)
      .select(explode(spanUdf(col(benchTextCol))).as("__h"))
      .distinct().limit(maxBenchSpans + 1)
      .as[Long].collect()
    require(hot.length <= maxBenchSpans,
      s"more than $maxBenchSpans benchmark spans at spanTokens=$spanTokens " +
        "(broadcast would not fit): raise spanTokens/maxBenchSpans, or use " +
        "the join-path drop-based decontamination for a corpus-sized reference.")
    java.util.Arrays.sort(hot)
    val bc = spark.sparkContext.broadcast(hot)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), spanCutUdf(bc, k)(col(textCol)).as("__r"))
      .filter(col("__r._2") > 0)
      .select(col(idCol),
        col("__r._1").as(textCol),
        col("__r._2").cast(LongType).as("n_tokens_kept"),
        col("__r._3").cast(LongType).as("n_tokens_removed"))
  }

  /**
   * Per-document novelty scoring: the fraction of a document's distinct
   * word-shingles that FIRST appear in that document, where "first" is
   * the corpus's stable id order (min `idCol` over the shingle's
   * occurrences). High-novelty docs contribute new n-gram mass to the
   * corpus; near-zero novelty flags late near-copies and template spam —
   * the streaming-ingest intuition ("how much of this doc have we already
   * seen?") as one batch pass. Documents with fewer than `shingleN`
   * tokens have no shingles and emit no row (the bigram-LM convention).
   * Output: `idCol`, `n_shingles`, `n_novel`, `novelty` (rounded 6).
   *
   * Scale shape (100 TB): the exploded (doc, shingle) relation shuffles
   * ONCE on the shingle hash for the min-id aggregation — map-side
   * partial `min` makes the hot-shingle key a non-issue for the agg; the
   * join back is shingle-keyed (sort-merge, AQE skew-split handles a
   * shingle shared by millions of docs), and the final per-doc count is
   * a doc-keyed hash agg. No window-over-corpus, no driver state, no
   * pair materialization.
   */
  /** The exploded (doc, shingle-hash) relation noveltyScores aggregates —
    * shared by the containment, novelty and prefix-filter joins. Fused JVM
    * kernel, not the Column-form hashedTokens: no lambda-CSE re-hashing
    * (measured 46s -> 0.3s for the explode at 5k docs). Null text carries
    * no shingles -> no row (the LM-score convention). */
  private def docShingles(df: DataFrame, textCol: String, idCol: String,
                          shingleN: Int): DataFrame = {
    val shUdf = udf { (text: String) => shingleHashes(text, shingleN) }
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__doc"),
        explode(shUdf(col(textCol))).as("__sh"))
  }

  def noveltyScores(df: DataFrame, textCol: String, idCol: String,
                    shingleN: Int = 3): DataFrame = {
    val sh = docShingles(df, textCol, idCol, shingleN)
    // docShingles is DISTINCT per (doc, shingle), so n_novel per doc is a
    // recount of the per-shingle min-doc relation ALONE — the round-6
    // shape joined the full (doc, shingle) stream back to firstSeen,
    // which shuffled + sorted the whole exploded corpus a second time
    // (measured 14.2s of the permute-mode 100x point's 13.9s total; this
    // shape cuts the operator to its two map-side-combining aggs and a
    // doc-keyed join of two doc-sized relations)
    val novel = sh.groupBy(col("__sh")).agg(min(col("__doc")).as("__first"))
      .groupBy(col("__first")).agg(count(lit(1)).as("n_novel"))
    val counts = sh.groupBy(col("__doc")).agg(count(lit(1)).as("n_shingles"))
    counts.join(novel, counts("__doc") === novel("__first"), "left")
      .select(col("__doc").as(idCol), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)) / col("n_shingles"), 6)
          .as("novelty"))
  }

  /**
   * EXACT set-similarity self-join by prefix filtering (Chaudhuri 2006 /
   * Xiao et al. 2008, the PPJoin family) — every pair of documents
   * whose distinct-SHINGLE Jaccard reaches `tauPct`/100, with NO
   * probabilistic misses: the guarantee MinHash LSH trades away. Runs
   * on the SAME hashed `shingleN`-gram sets as [[minhashNearDupPairs]]'
   * verify stage, so at the same threshold its output is the exact
   * ground truth the LSH pipeline approximates (every verified LSH pair
   * is here; anything extra here is an LSH false NEGATIVE — a banding
   * miss). The filter is the classic one: order the shingle vocabulary
   * rarest-first (document frequency asc, hash asc — a deterministic
   * total order), sort each document's distinct shingles by that order,
   * and keep only the first `n − ceil(τ·n) + 1` as its PREFIX; two sets
   * with Jaccard ≥ τ MUST share a prefix element, so the candidate
   * space is the prefix self-join — driven entirely by RARE shingles
   * (an element's candidate contribution is quadratic in its document
   * frequency, and the hot shingles that would blow that up are exactly
   * the ones the ordering pushes OUT of prefixes; at τ = 0.8 a prefix
   * is ≲ 20% of a document's shingles).
   *
   * Verification is all-integer: `inter·100 ≥ τpct·union` over exact
   * intersection/union counts — no double ever enters the contract, so
   * the replay is engine-exact by construction.
   *
   * Scale shape: one distinct-shingle explode, a shingle-keyed df count
   * (map-side partials) joined back BY KEY, a per-DOC sort of its own
   * shingle list, a SKINNY prefix explode (scalars only — doc id,
   * length, position, key), a key-equality candidate self-join
   * (bucket-local, the LSH-band shape) whose filters and pair-dedup all
   * run on scalar rows, then an id-keyed re-join against the staged
   * docs relation that fetches each side's shingle array exactly once
   * per SURVIVING pair for the intersect verify — candidate bytes stay
   * O(candidates), not O(candidates × doc length); the array-carrying
   * variant of this join is what the round-7 1000× record died on.
   * There is NO global rank anywhere: the rarest-first order is
   * realized as the (df, hash) pair itself — any deterministic total
   * order works for the prefix theorem, and a dense row_number rank
   * (the first cut) cost a single-task window sort over the whole
   * shingle vocabulary, 158 s at the 100× point's inflated vocab vs
   * ~24 s for this shape. The all-pairs space never materializes.
   */
  def prefixFilterJoin(df: DataFrame, textCol: String, idCol: String,
                       tauPct: Int, shingleN: Int = 3,
                       maxCandidates: Long = 200000000L): DataFrame = {
    require(tauPct >= 1 && tauPct <= 100, s"tauPct in [1,100], got $tauPct")
    val toks = docShingles(df, textCol, idCol, shingleN)
      .withColumnRenamed("__sh", "__t")
    val dfs = toks.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    val keyed = toks.join(dfs, Seq("__t"))
      .select(col("__doc"),
        struct(col("__df").as("d"), col("__t").as("h")).as("__k"))
    // the (df, hash) structs exist ONLY to pick prefixes; verification
    // runs on plain LONG hash arrays (codegen'd intersect — struct
    // arrays pay an interpreted comparator per element, measured ~10×
    // on the candidate-verify stage), and the candidate join keys on
    // the two scalar fields
    // staged once: the guard pass and BOTH self-join sides read this
    // relation — without the stage the shingle explode + doc agg lineage
    // runs three times
    val docs = graft.core.Stage.materialize(
      keyed.groupBy(col("__doc"))
        .agg(sort_array(collect_list(col("__k"))).as("__ks"),
          count(lit(1)).as("__n"))
        .withColumn("__rs", expr("transform(__ks, x -> x.h)")),
      "ssjoin_docs")
    // prefix length n - ceil(tau*n) + 1, ceil as integer arithmetic
    val prefLen = (col("__n") - floor((col("__n") * tauPct + 99) / 100) + 1)
      .cast("int")
    // SKINNY prefix relation — scalars only. The round-7 1000× record
    // died on width, not count: carrying each doc's full __rs array on
    // every prefix row (and on both sides of every candidate) shipped
    // ~50× the bytes of the same row set; arrays are re-fetched from
    // the staged docs relation only for pairs that SURVIVE the filters
    val pref = docs.select(col("__doc"), col("__n"),
        posexplode(slice(col("__ks"), lit(1), prefLen)).as(Seq("__i", "__p")))
      .select(col("__doc"), col("__n"), col("__i"),
        col("__p.d").as("__pd"), col("__p.h").as("__ph"))
    val a = pref.select(col("__doc").as("a"),
      col("__n").as("__na"), col("__i").as("__ia"), col("__pd"), col("__ph"))
    val b = pref.select(col("__doc").as("b"),
      col("__n").as("__nb"), col("__i").as("__ib"), col("__pd"), col("__ph"))
    // PPJoin's two candidate prunes, both all-integer and per matching
    // occurrence (a pair survives if ANY shared prefix position passes,
    // so the per-occurrence bound must be SAFE — no false negatives):
    //  - length filter: |x| >= tau|y| is NECESSARY for Jaccard >= tau
    //  - positional filter: with a match at 0-based sorted positions
    //    (ia, ib), overlap <= min(ia, ib) [earlier tokens may still be
    //    common — possibly beyond the other side's prefix] + 1 +
    //    min(nx-ia-1, ny-ib-1) [the suffixes]; it must reach
    //    alpha = ceil(tau/(1+tau) * (nx+ny))
    // These are what keep a hot shingle from going quadratic: a pair
    // must ALSO be length-compatible and position-compatible before the
    // verify ever sees it.
    val alpha = floor((col("__na") + col("__nb")) * tauPct / (100 + tauPct))
      .cast("long") + when(
        ((col("__na") + col("__nb")) * tauPct) % (100 + tauPct) === 0, 0L)
      .otherwise(1L)
    // FAIL-FAST candidate-volume guard (the house limit+1 pattern): an
    // exact tau-Jaccard join is inherently quadratic when even the
    // RAREST shingles of many docs are corpus-hot (template-heavy
    // crawls; the permute-mode 100x generator manufactures this — 1.86G
    // candidates where the suffix layout has 12M). One cheap partial-agg
    // pass over the prefix relation (~tau-fraction of the explode)
    // estimates sum(pc choose 2); past the cap the operator REFUSES,
    // naming the knobs, instead of melting the cluster: raise tauPct,
    // raise shingleN, or exact-dedup templates first.
    val vol = pref.groupBy(col("__pd"), col("__ph"))
      .agg(count(lit(1)).as("__pc"))
      .agg(sum(col("__pc") * (col("__pc") - 1) / 2).cast("long"))
      .head()
    val candVol = if (vol.isNullAt(0)) 0L else vol.getLong(0)
    require(candVol <= maxCandidates,
      s"prefixFilterJoin: ~$candVol candidate pairs exceed maxCandidates=" +
        s"$maxCandidates — the corpus is template-hot at shingleN=$shingleN, " +
        s"tauPct=$tauPct; raise tauPct/shingleN, exact-dedup first, or raise " +
        "maxCandidates knowingly")
    val cand = a.join(b, Seq("__pd", "__ph")).filter(col("a") < col("b"))
      .filter(col("__na") * 100 >= col("__nb") * tauPct &&
        col("__nb") * 100 >= col("__na") * tauPct)
      .filter(lit(1L) + least(col("__ia"), col("__ib"))
        + least(col("__na") - col("__ia") - 1L,
          col("__nb") - col("__ib") - 1L) >= alpha)
      .select(col("a"), col("b"))
      .dropDuplicates("a", "b")
    // verify on unique pairs only: two id-keyed joins against the staged
    // docs relation pull each side's array ONCE per surviving pair
    cand
      .join(docs.select(col("__doc").as("a"), col("__rs").as("__ra"),
        col("__n").as("__na")), Seq("a"))
      .join(docs.select(col("__doc").as("b"), col("__rs").as("__rb"),
        col("__n").as("__nb")), Seq("b"))
      .withColumn("n_inter", size(array_intersect(col("__ra"), col("__rb"))).cast("long"))
      .withColumn("n_union", col("__na") + col("__nb") - col("n_inter"))
      .filter(col("n_inter") * 100 >= col("n_union") * tauPct)
      .select(col("a"), col("b"), col("n_inter"), col("n_union"))
  }

  /**
   * Snapshot delta between two corpus versions — the incremental-crawl
   * bookkeeping every recurring 100 TB ingest needs (what changed since
   * the last snapshot decides what re-enters dedup/scoring): per id,
   * `added` (only in curr), `removed` (only in prev), `changed`
   * (content hash differs), `unchanged`.
   *
   * Scale shape: each side projects to (id, md5(content)) BEFORE the
   * full-outer id join, so the corpus-sized shuffle carries ~40 bytes a
   * row regardless of document size — the join never sees text. Null
   * content hashes as '' (the diff convention; a null-vs-empty edit is
   * not a change).
   */
  def snapshotDiff(prev: DataFrame, curr: DataFrame, idCol: String,
                   contentCol: String): DataFrame = {
    def hashed(df: DataFrame, h: String) = df.select(col(idCol).as("__id"),
      md5(coalesce(col(contentCol).cast("string"), lit(""))).as(h))
    hashed(prev, "__hp").join(hashed(curr, "__hc"), Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__hp").isNull, "added")
          .when(col("__hc").isNull, "removed")
          .when(col("__hp") === col("__hc"), "unchanged")
          .otherwise("changed").as("status"))
  }
}
