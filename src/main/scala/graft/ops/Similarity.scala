package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale shape: the query set is broadcast (small side), each base partition
  * computes a bounded per-partition top-k with a heap (map-side combine for
  * top-k), and only `partitions * queries * k` candidate rows enter the final
  * shuffle — never the full similarity matrix. The LSH variant adds a
  * hyperplane bucket key so, at 100 TB, base vectors hash-partition by bucket
  * and a query only scans matching buckets.
  */
object Similarity {

  final case class Neighbor(query_id: Long, neighbor_id: Long, sim: Double)

  /** Map-side bounded top-k: each partition keeps at most k candidates per
    * query_id (min-heap under the final ranking order (sim desc,
    * neighbor_id asc)), so the global rank window sees O(partitions ×
    * queries × k) rows instead of O(probes × bucketWidth). Keeping the
    * per-partition top-k under the SAME total order as the window makes
    * this a pure pre-filter: every globally top-k row survives its
    * partition's heap, so the final ranking is bit-identical.
    */
  def partitionTopK(scored: Dataset[Neighbor], k: Int): Dataset[Neighbor] = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.mapPartitions { it =>
      // min-heap: head = weakest kept candidate (lowest sim; ties evict the
      // higher neighbor_id first, matching the window's asc-id preference)
      val heaps = new java.util.HashMap[Long, java.util.PriorityQueue[(Double, Long)]]()
      val ord = new Ordering[(Double, Long)] {
        def compare(a: (Double, Long), b: (Double, Long)): Int = {
          val bySim = java.lang.Double.compare(a._1, b._1)
          if (bySim != 0) bySim else java.lang.Long.compare(b._2, a._2)
        }
      }
      it.foreach { n =>
        var h = heaps.get(n.query_id)
        if (h == null) {
          h = new java.util.PriorityQueue[(Double, Long)](k + 1, ord)
          heaps.put(n.query_id, h)
        }
        h.add((n.sim, n.neighbor_id))
        if (h.size > k) h.poll()
      }
      import scala.jdk.CollectionConverters._
      heaps.entrySet().iterator().asScala.flatMap { e =>
        e.getValue.iterator.asScala.map { case (s, id) => Neighbor(e.getKey, id, s) }
      }
    }
  }

  /** Global top-k rank over a (bounded) candidate set; deterministic
    * tie-break by ascending neighbor_id.
    */
  private def rankTopK(candidates: Dataset[Neighbor], k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    candidates.toDF()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("sim"))
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Exact brute-force top-k cosine neighbors of each query vector.
    * `base`/`queries`: (vec_id: long, embedding: array<float>). Self-matches
    * (same vec_id) are excluded.
    *
    * The query side is collected and broadcast, so it must be small;
    * `maxQueries` guards the collect — exceeding it fails fast instead of
    * OOM-ing the driver. For large query sets use [[lshTopK]].
    */
  def bruteForceTopK(base: DataFrame, queries: DataFrame, k: Int,
                     maxQueries: Int = 100000): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val q = queries.select(col("vec_id").cast("long"), col("embedding"))
      .limit(maxQueries + 1).as[(Long, Array[Float])].collect()
    require(q.length <= maxQueries,
      s"bruteForceTopK query side exceeds maxQueries=$maxQueries; use lshTopK")
    val qB = spark.sparkContext.broadcast(q)

    val candidates = base.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = qB.value
        // per-query bounded min-heap of (sim, id)
        val heaps = Array.fill(qs.length)(
          new java.util.PriorityQueue[(Double, Long)](k + 1,
            Ordering.by[(Double, Long), (Double, Long)](t => (t._1, -t._2))))
        it.foreach { case (id, emb) =>
          var qi = 0
          while (qi < qs.length) {
            if (qs(qi)._1 != id) {
              val s = cosine(qs(qi)._2, emb)
              val h = heaps(qi)
              h.add((s, id))
              if (h.size > k) h.poll()
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          import scala.jdk.CollectionConverters._
          h.iterator.asScala.map { case (s, id) => Neighbor(qs(qi)._1, id, s) }
        }
      }

    rankTopK(candidates, k)
  }

  // -------------------------------------------------------------------
  // LSH (random hyperplane) bucketing — the scale path

  /** Deterministic pseudo-random hyperplanes (no java.util.Random state
    * ambiguity across JVMs: plain xorshift on (seed, plane, dim)).
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Float]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { d =>
        var x = seed ^ (p * 0x9e3779b97f4a7c15L) ^ (d * 0xc2b2ae3d27d4eb4fL)
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        ((x * 0x2545f4914f6cdd1dL) >>> 40).toFloat / (1 << 23).toFloat - 1.0f
      }
    }

  /** Hyperplane sign pattern of one embedding. The dot product accumulates
    * in Double over the float32 values, left to right — deterministic and
    * exactly replayable by an external (double-precision) oracle.
    */
  def bucketOf(emb: Array[Float], planes: Array[Array[Float]]): Int = {
    var b = 0
    var p = 0
    while (p < planes.length) {
      var dot = 0.0; var i = 0
      val pl = planes(p)
      while (i < emb.length) { dot += emb(i).toDouble * pl(i).toDouble; i += 1 }
      if (dot >= 0.0) b |= (1 << p)
      p += 1
    }
    b
  }

  final case class BucketedVec(vec_id: Long, bucket: Int)

  /** Plane count that keeps the EXPECTED hyperplane-bucket width near
    * `targetBucketWidth` for a corpus of `corpusSize` vectors:
    * nPlanes ≈ log2(n) − log2(width). The default 8 planes (256 buckets) is
    * right for ~10^4-10^5 vectors; a 10^9-vector corpus wants ~24 planes.
    * Clamped to [1, 30] so the bucket id stays a positive Int.
    */
  def nPlanesFor(corpusSize: Long, targetBucketWidth: Int = 64): Int = {
    val n = math.max(1L, corpusSize)
    val w = math.max(1, targetBucketWidth)
    val p = math.ceil(math.log(n.toDouble / w) / math.log(2.0)).toInt
    math.min(30, math.max(1, p))
  }

  /** Resolve the embedding dimensionality: prefer the caller-supplied value
    * (no Spark job); fall back to a single bounded probe of the first row.
    */
  private def resolveDim(base: DataFrame, dim: Option[Int]): Int = dim.getOrElse {
    val spark = base.sparkSession
    import spark.implicits._
    base.select(col("embedding")).as[Array[Float]].head().length
  }

  /** Bucket every base vector. Pass `dim` to avoid the one probe job. */
  def lshBuckets(base: DataFrame, nPlanes: Int = 8, seed: Long = 42L,
                 dim: Option[Int] = None): Dataset[BucketedVec] = {
    val spark = base.sparkSession
    import spark.implicits._
    val planes = spark.sparkContext.broadcast(hyperplanes(nPlanes, resolveDim(base, dim), seed))
    base.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, emb) => BucketedVec(id, bucketOf(emb, planes.value)) })
  }

  /** ANN via LSH buckets: a query scans only base vectors in its own bucket
    * and in buckets at Hamming distance 1 (multi-probe), then exact-ranks.
    * Pass `dim` to avoid any driver probe job.
    *
    * Load bounding: size the bucket space with [[nPlanesFor]] at corpus
    * scale, and `maxBucket` drops base buckets wider than the cap from
    * scoring (a degenerate bucket would otherwise make one probe scan
    * millions of vectors); [[lshOverflowBuckets]] reports the drops so the
    * recall loss is accounted, mirroring the dedup operators' cap pattern.
    */
  def lshTopK(base: DataFrame, queries: DataFrame, k: Int,
              nPlanes: Int = 8, seed: Long = 42L,
              dim: Option[Int] = None,
              maxBucket: Int = 1 << 20): DataFrame =
    rankTopK(lshCandidates(base, queries, k, nPlanes, seed, dim, maxBucket), k)

  /** The bounded candidate set entering [[lshTopK]]'s rank window: scored
    * bucket-join rows squeezed through [[partitionTopK]], so at most
    * `partitions × queries × k` rows shuffle into the window — a degenerate
    * (but under-cap) bucket never funnels its full width into one window
    * task. Exposed so a spec can assert the bound.
    */
  def lshCandidates(base: DataFrame, queries: DataFrame, k: Int,
                    nPlanes: Int = 8, seed: Long = 42L,
                    dim: Option[Int] = None,
                    maxBucket: Int = 1 << 20): Dataset[Neighbor] = {
    val spark = base.sparkSession
    import spark.implicits._
    val planes = spark.sparkContext.broadcast(hyperplanes(nPlanes, resolveDim(base, dim), seed))

    val baseB = base.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, emb) => (id, emb, bucketOf(emb, planes.value)) }
      .toDF("vec_id", "embedding", "bucket")

    val okBuckets = baseB.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") <= maxBucket)
      .select(col("bucket"))

    val probes = queries.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        val b = bucketOf(emb, planes.value)
        (b +: (0 until nPlanes).map(p => b ^ (1 << p))).distinct
          .map(probe => (id, emb, probe))
      }
      .toDF("query_id", "q_embedding", "bucket")

    val scored = probes.join(okBuckets, Seq("bucket")).join(baseB, Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .as[(Int, Long, Array[Float], Long, Array[Float])]
      .map { case (_, qid, qe, nid, ne) => Neighbor(qid, nid, cosine(qe, ne)) }

    partitionTopK(scored, k)
  }

  /** Base buckets dropped by [[lshTopK]]'s width cap: (bucket, n_docs) for
    * every bucket wider than `maxBucket`.
    */
  def lshOverflowBuckets(base: DataFrame,
                         nPlanes: Int = 8, seed: Long = 42L,
                         dim: Option[Int] = None,
                         maxBucket: Int = 1 << 20): DataFrame =
    lshBuckets(base, nPlanes, seed, dim).toDF()
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)

  // -------------------------------------------------------------------
  // IVF (inverted-file) coarse quantization — the second scale path.
  //
  // Base vectors are assigned to their nearest coarse centroid (the
  // "inverted list"); a query scans only the `nProbe` lists whose centroids
  // are nearest to it, then exact-ranks. At 100 TB the base side
  // hash-partitions by list_id, so a probe is a hash-join key lookup rather
  // than a corpus scan, and list width is capped like the LSH buckets.

  /** Deterministic seeded coarse centroids. Every component is an exact
    * dyadic rational (k / 2^23) so an external double-precision oracle can
    * restate the centroid literally (same construction as [[hyperplanes]],
    * distinct mixing constant so seeds do not collide with the LSH planes).
    * Components are Double, and all distance math stays in double — float32
    * intermediates would not be replayable from SQL.
    */
  def ivfCentroidNumerator(list: Int, d: Int, seed: Long): Long = {
    var x = seed ^ (list * 0xbf58476d1ce4e5b9L) ^ (d * 0x94d049bb133111ebL)
    x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
    (x * 0x2545f4914f6cdd1dL) >>> 40
  }

  def ivfCentroids(nLists: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(nLists) { c =>
      Array.tabulate(dim) { d =>
        ivfCentroidNumerator(c, d, seed).toDouble / (1 << 23).toDouble - 1.0
      }
    }

  /** Squared L2 distance to one centroid: left-to-right double
    * accumulation over the float32 components — bit-identical to the SQL
    * `(embedding[1]-c1)*(embedding[1]-c1) + ...` restatement.
    */
  def sqDist(emb: Array[Float], c: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < emb.length) {
      val diff = emb(i).toDouble - c(i)
      d += diff * diff
      i += 1
    }
    d
  }

  /** Nearest-centroid list id; strict `<` keeps the FIRST minimum, matching
    * a first-occurrence index lookup on the oracle side.
    */
  def assignList(emb: Array[Float], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestD = sqDist(emb, centroids(0))
    var c = 1
    while (c < centroids.length) {
      val d = sqDist(emb, centroids(c))
      if (d < bestD) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** The `nProbe` nearest list ids of a query vector, tie-broken by lower
    * list id (ascending (distance, id) sort — replayable as a SQL window).
    */
  def probeLists(emb: Array[Float], centroids: Array[Array[Double]],
                 nProbe: Int): Array[Int] = {
    Array.tabulate(centroids.length)(c => (sqDist(emb, centroids(c)), c))
      .sortBy(t => (t._1, t._2))
      .take(math.min(nProbe, centroids.length))
      .map(_._2)
  }

  final case class ListedVec(vec_id: Long, list_id: Int)

  /** Assign every base vector to its inverted list. */
  def ivfLists(base: DataFrame, centroids: Array[Array[Double]]): Dataset[ListedVec] = {
    val spark = base.sparkSession
    import spark.implicits._
    val cB = spark.sparkContext.broadcast(centroids)
    base.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, emb) => ListedVec(id, assignList(emb, cB.value)) })
  }

  /** Lloyd's k-means over the base vectors, DETERMINISTIC across
    * partitionings: per-list component sums accumulate in 34.30 fixed point
    * (`round(v * 2^30)` as Long), so the cross-partition combine is integer
    * addition — associative and commutative — instead of order-sensitive
    * double addition. Init is [[ivfCentroids]]; an emptied list keeps its
    * previous centroid. One shuffle of `nLists` tiny rows per iteration;
    * vectors never leave their partitions.
    */
  def kmeansTrain(base: DataFrame, nLists: Int, iters: Int, seed: Long,
                  dim: Int): Array[Array[Double]] = {
    val spark = base.sparkSession
    import spark.implicits._
    val SCALE = 1L << 30
    var centroids = ivfCentroids(nLists, dim, seed)
    val vecs = base.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    var it = 0
    while (it < iters) {
      val cB = spark.sparkContext.broadcast(centroids)
      val partials = vecs.mapPartitions { rows =>
        val cs = cB.value
        val counts = new Array[Long](cs.length)
        val sums = Array.ofDim[Long](cs.length, dim)
        rows.foreach { case (_, emb) =>
          val l = assignList(emb, cs)
          counts(l) += 1L
          var i = 0
          while (i < dim) { sums(l)(i) += math.round(emb(i).toDouble * SCALE); i += 1 }
        }
        Iterator.tabulate(cs.length)(l => (l, counts(l), sums(l)))
      }
      val folded = partials
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val s = new Array[Long](dim)
          var i = 0
          while (i < dim) { s(i) = a._3(i) + b._3(i); i += 1 }
          (a._1, a._2 + b._2, s)
        }
        .map(_._2)
        .collect()
      val next = centroids.map(_.clone())
      folded.foreach { case (l, n, s) =>
        if (n > 0L) {
          var i = 0
          while (i < dim) { next(l)(i) = s(i).toDouble / (n.toDouble * SCALE); i += 1 }
        }
      }
      centroids = next
      it += 1
    }
    centroids
  }

  /** ANN via IVF lists: assign the base once, probe the `nProbe` nearest
    * lists per query, exact-rank inside the probed lists. Pass trained
    * centroids from [[kmeansTrain]] for recall, or [[ivfCentroids]] for a
    * training-free (and externally replayable) index. `maxList` drops
    * degenerate lists from scoring — [[ivfOverflowLists]] reports the drops.
    */
  def ivfTopK(base: DataFrame, queries: DataFrame, k: Int,
              centroids: Array[Array[Double]], nProbe: Int = 2,
              maxList: Int = 1 << 20): DataFrame =
    rankTopK(ivfCandidates(base, queries, k, centroids, nProbe, maxList), k)

  /** The bounded candidate set entering [[ivfTopK]]'s rank window — same
    * [[partitionTopK]] squeeze as [[lshCandidates]].
    */
  def ivfCandidates(base: DataFrame, queries: DataFrame, k: Int,
                    centroids: Array[Array[Double]], nProbe: Int = 2,
                    maxList: Int = 1 << 20): Dataset[Neighbor] = {
    val spark = base.sparkSession
    import spark.implicits._
    val cB = spark.sparkContext.broadcast(centroids)

    val baseL = base.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, emb) => (id, emb, assignList(emb, cB.value)) }
      .toDF("vec_id", "embedding", "list_id")

    val okLists = baseL.groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") <= maxList)
      .select(col("list_id"))

    val probes = queries.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        probeLists(emb, cB.value, nProbe).map(l => (id, emb, l))
      }
      .toDF("query_id", "q_embedding", "list_id")

    val scored = probes.join(okLists, Seq("list_id")).join(baseL, Seq("list_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .as[(Int, Long, Array[Float], Long, Array[Float])]
      .map { case (_, qid, qe, nid, ne) => Neighbor(qid, nid, cosine(qe, ne)) }

    partitionTopK(scored, k)
  }

  /** Lists dropped by [[ivfTopK]]'s width cap: (list_id, n_docs) for every
    * inverted list wider than `maxList`.
    */
  def ivfOverflowLists(base: DataFrame, centroids: Array[Array[Double]],
                       maxList: Int = 1 << 20): DataFrame =
    ivfLists(base, centroids).toDF()
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxList)
}
