package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora.
  *
  * Scale shape: every variant reduces to (signature → band → hash-partition
  * join on band keys), the standard MinHash-LSH factoring — the only shuffle
  * is the groupBy/join on band buckets; signatures are computed map-side with
  * no driver involvement. Hot buckets (boilerplate-heavy corpora) are the
  * skew risk; `candidatePairs` caps bucket width defensively.
  */
object Dedup {

  /** Exact dedup: representative per md5(text) group. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("rep_id"))

  // -------------------------------------------------------------------
  // MinHash

  /** 64-bit hash of one shingle (word n-gram), FNV-1a over chars. */
  def shingleHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Word shingles of width `n` (whole text as one shingle when shorter). */
  def shingles(text: String, n: Int): Array[Long] = {
    val words = text.split(' ')
    if (words.length < n) Array(shingleHash(text))
    else {
      val out = new Array[Long](words.length - n + 1)
      var i = 0
      while (i + n <= words.length) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(words(i + j)); j += 1 }
        out(i) = shingleHash(sb.toString)
        i += 1
      }
      out
    }
  }

  private val MersennePrime = (1L << 61) - 1

  /** Exact (a * x) mod 2^61-1 for a, x in [0, 2^61): the 122-bit product is
    * split via Math.multiplyHigh and folded with 2^61 ≡ 1 (mod p).
    */
  def mulModMersenne(a: Long, x: Long): Long = {
    val hi = Math.multiplyHigh(a, x)
    val lo = a * x
    var r = ((hi << 3) | (lo >>> 61)) + (lo & MersennePrime)
    while (r >= MersennePrime) r -= MersennePrime
    r
  }

  /** The seeded coefficients of the universal family h_j(x) = (a_j*x + b_j)
    * mod 2^61-1, a_j odd in [1, 2^61-2], b_j in [0, 2^61-2]. Exposed so the
    * DuckDB oracle can inline the identical constants.
    */
  def minhashCoefficients(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(seed)
    val as = Array.fill(k)(((rnd.nextLong() & MersennePrime) % MersennePrime) | 1L)
    val bs = Array.fill(k)((rnd.nextLong() & MersennePrime) % MersennePrime)
    (as, bs)
  }

  /** k-permutation MinHash signature over the shingle set. Seeded linear
    * hashes h_j(x) = (a_j * x + b_j) mod 2^61-1 computed with exact 128-bit
    * arithmetic (a genuine universal family), deterministic in `seed`;
    * shingle hashes are folded into [0, 2^61) before hashing.
    */
  def minhashSignature(text: String, k: Int, shingleN: Int, seed: Long): Array[Long] = {
    val (as, bs) = minhashCoefficients(k, seed)
    minhashSignature(text, k, shingleN, as, bs)
  }

  /** Coefficient-array variant: callers that process many documents hoist
    * [[minhashCoefficients]] once (per task closure) instead of spinning up
    * a `java.util.Random` and two k-length arrays per row.
    */
  def minhashSignature(text: String, k: Int, shingleN: Int,
                       as: Array[Long], bs: Array[Long]): Array[Long] = {
    val sh = shingles(text, shingleN)
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val x = sh(i) & MersennePrime
      var j = 0
      while (j < k) {
        val t = mulModMersenne(as(j), x) + bs(j)
        val h = if (t >= MersennePrime) t - MersennePrime else t
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  final case class MinhashSig(doc_id: Long, sig: Seq[Long])
  final case class BandRow(doc_id: Long, band: Int, band_hash: Long)

  def minhashSignatures(docs: DataFrame, k: Int = 64, shingleN: Int = 3,
                        seed: Long = 42L,
                        idCol: String = "doc_id", textCol: String = "text"): Dataset[MinhashSig] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // coefficients are deterministic in (k, seed): derive once on the driver
    // and ship in the task closure — never per row (2 k-length arrays + 2k
    // Random draws each) nor even per partition
    val (as, bs) = minhashCoefficients(k, seed)
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        MinhashSig(id, minhashSignature(if (text == null) "" else text, k, shingleN, as, bs))
      })
  }

  /** LSH banding: signature rows → (doc, band, band-hash) — the join key. */
  def lshBands(sigs: Dataset[MinhashSig], bands: Int): Dataset[BandRow] = {
    val spark = sigs.sparkSession
    import spark.implicits._
    sigs.flatMap { s =>
      val rowsPerBand = s.sig.length / bands
      (0 until bands).iterator.map { b =>
        var h = 0xcbf29ce484222325L
        var j = b * rowsPerBand
        while (j < (b + 1) * rowsPerBand) {
          h ^= s.sig(j); h *= 0x100000001b3L; j += 1
        }
        BandRow(s.doc_id, b, h)
      }
    }
  }

  /** Candidate near-duplicate pairs: docs sharing any LSH band bucket.
    * `maxBucket` drops degenerate buckets (all-identical boilerplate) that
    * would otherwise explode quadratically — the dropped buckets are exact
    * duplicates by construction and are caught by [[exactGroups]].
    */
  def candidatePairs(bandRows: Dataset[BandRow], maxBucket: Int = 64): DataFrame = {
    val buckets = bandRows.groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    buckets.select(explode(expr(
      "filter(flatten(transform(ids, a -> transform(ids, b -> struct(a, b)))), p -> p.a < p.b)"
    )).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard over word n-gram shingle sets, for verifying candidates. */
  def jaccard(a: String, b: String, shingleN: Int = 3): Double = {
    val sa = shingles(a, shingleN).toSet
    val sb = shingles(b, shingleN).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }

  /** Distributed verification of LSH candidate pairs: joins the text back by
    * id on both sides and computes exact Jaccard executor-side. No driver
    * materialization — the scale shape is two hash joins on doc ids followed
    * by a map, so it survives corpora whose text cannot fit on the driver.
    * Input `cands`: (id_a, id_b); output: (id_a, id_b, jaccard).
    */
  def verifyCandidates(cands: DataFrame, docs: DataFrame, shingleN: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val d = docs.select(col(idCol).cast("long").as("vid"), col(textCol).as("vtext"))
    cands.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .join(d.select(col("vid").as("id_a"), col("vtext").as("text_a")), Seq("id_a"))
      .join(d.select(col("vid").as("id_b"), col("vtext").as("text_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("text_a"), col("text_b"))
      .as[(Long, Long, String, String)]
      .mapPartitions(_.map { case (a, b, ta, tb) =>
        (a, b, jaccard(if (ta == null) "" else ta, if (tb == null) "" else tb, shingleN))
      })
      .toDF("id_a", "id_b", "jaccard")
  }

  // -------------------------------------------------------------------
  // Near-duplicate clustering (connected components over candidate pairs)

  /** Connected components over an undirected pair list — the final step of
    * corpus dedup: near-dup PAIRS (from [[candidatePairs]] /
    * [[embeddingNearDups]] / simhash) fold into CLUSTERS, and each cluster
    * keeps one canonical representative (its minimum id).
    *
    * Algorithm: iterative min-label propagation to fixpoint. Each round is
    * one hash join (edges × labels) + one partial-aggregated groupBy — both
    * shuffle on the id key, no driver materialization; label rows are two
    * longs. The result is the unique fixpoint (every node labeled with the
    * minimum id reachable from it), so it is DETERMINISTIC regardless of
    * partitioning or join order. Convergence needs O(component diameter)
    * rounds; near-dup clusters are dense (diameter is small — a transitive
    * chain of near-dups is rare and bounded), and `maxIters` caps hostile
    * graphs: if the cap is hit before fixpoint the method THROWS rather
    * than silently returning partially-merged clusters (the cap is an
    * accounting guard, not a silent truncation). Iterations localCheckpoint
    * the label table to keep the plan from growing unboundedly; set a
    * cluster checkpoint dir + `reliableCheckpoint` in production jobs where
    * executor loss during the (short) clustering phase matters.
    *
    * Input: (id_a, id_b) pairs. Output: (id, comp) — one row per distinct
    * node, `comp` = min reachable id.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val edges = {
      val p = pairs.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      p.union(p.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .persist()
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var it = 0
    var changed = 1L
    while (changed > 0L && it < maxIters) {
      // every node offers its current label to its neighbors; a node keeps
      // the minimum of its own label and all offers (partial agg map-side)
      val offers = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"))
      val next = labels.select(col("id"), col("comp")).union(offers)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .localCheckpoint(true)
      changed = next.as("n").join(labels.as("p"), col("n.id") === col("p.id"))
        .filter(col("n.comp") =!= col("p.comp"))
        .count()
      labels = next
      it += 1
    }
    edges.unpersist()
    if (changed > 0L)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          s"($changed labels still changing) — component diameter exceeds the cap")
    labels
  }

  /** Cluster representatives: (id, rep_id) for every node in `pairs`, where
    * rep_id is the canonical (minimum) id of the node's near-dup cluster —
    * rows with id != rep_id are the droppable duplicates.
    */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 25): DataFrame =
    connectedComponents(pairs, maxIters)
      .select(col("id"), col("comp").as("rep_id"))

  // -------------------------------------------------------------------
  // Line-level dedup (C4/RefinedWeb-style boilerplate line removal)

  /** Lines occurring in at least `minDocs` DISTINCT documents: the classic
    * cross-document boilerplate signal (nav bars, cookie banners, footers
    * repeat verbatim across a site's pages). Lines are compared after
    * trimming; blank lines are ignored. Returns (line, n_docs).
    *
    * Scale shape: explode → distinct per doc (map-side) → one
    * partial-aggregated groupBy on the line key. At 100 TB the hot keys
    * ARE the output (the most-repeated lines), and count aggregation is
    * associative, so map-side combine absorbs the skew — no cap needed.
    */
  def boilerplateLines(docs: DataFrame, minDocs: Long = 2L,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(split(col(textCol), "\n")).as("raw"))
      .select(col("doc_id"), trim(col("raw")).as("line"))
      .filter(col("line") =!= "")
      .distinct() // per-doc repeats count once toward n_docs
      .groupBy(col("line"))
      .agg(count(col("doc_id")).as("n_docs")) // rows are distinct (doc_id, line) pairs
      .filter(col("n_docs") >= minDocs)

  /** Remove cross-document boilerplate lines from every document: each
    * line whose trimmed form occurs in >= `minDocs` distinct documents is
    * dropped; surviving lines keep their original (untrimmed) text and
    * order. Returns (doc_id, clean_text, n_lines_kept, n_lines_dropped).
    *
    * Scale shape: one aggregation to build the boilerplate set (bounded by
    * distinct repeated lines, not corpus size) + one hash join from
    * exploded lines back to it + one groupBy(doc_id) reassembly — three
    * shuffles total, no driver materialization, no broadcast assumption
    * (Catalyst/AQE may still choose one when the boilerplate set is small).
    */
  def removeBoilerplateLines(docs: DataFrame, minDocs: Long = 2L,
                             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val boiler = boilerplateLines(docs, minDocs, idCol, textCol)
      .select(col("line"), lit(true).as("is_boiler"))
    docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "raw")))
      .withColumn("line", trim(col("raw")))
      .join(boiler, Seq("line"), "left")
      .withColumn("drop", coalesce(col("is_boiler"), lit(false)) && col("line") =!= "")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws("\n", sort_array(collect_list(
          when(!col("drop"), struct(col("pos"), col("raw"))))).getField("raw")).as("clean_text"),
        count(when(!col("drop"), 1)).as("n_lines_kept"),
        count(when(col("drop"), 1)).as("n_lines_dropped"))
  }

  // -------------------------------------------------------------------
  // SimHash

  /** 64-bit SimHash over word hashes (bit-vote aggregation). */
  def simhash64(text: String): Long = {
    val votes = new Array[Int](64)
    if (text != null) text.split(' ').foreach { w =>
      val h = shingleHash(w)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  final case class SimhashRow(doc_id: Long, simhash: Long)

  def simhashes(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): Dataset[SimhashRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => SimhashRow(id, simhash64(t)) })
  }

  private def simhashKeyed(rows: Dataset[SimhashRow], maxHamming: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val chunks = maxHamming + 1
    val width = 64 / chunks
    rows.flatMap { r =>
      (0 until chunks).iterator.map { c =>
        (r.doc_id, r.simhash, c, (r.simhash >>> (c * width)) & ((1L << width) - 1))
      }
    }.toDF("doc_id", "simhash", "chunk", "chunk_val")
  }

  /** Near-dup pairs with Hamming distance <= maxHamming, found by the
    * pigeonhole banding trick: split 64 bits into (maxHamming+1) chunks —
    * any pair within distance must agree on at least one chunk → group by
    * (chunk index, chunk value), explode pairs, verify distance exactly.
    *
    * `maxBucket` caps the per-(chunk, chunk_val) bucket width: a degenerate
    * chunk value (e.g. simhash 0 from empty/boilerplate docs) would explode
    * quadratically at scale; wide buckets are dropped, and
    * [[simhashOverflowBuckets]] reports exactly what was dropped so callers
    * can route those docs through exact dedup instead.
    */
  def simhashPairs(rows: Dataset[SimhashRow], maxHamming: Int = 3,
                   maxBucket: Int = 64): DataFrame = {
    val buckets = simhashKeyed(rows, maxHamming)
      .groupBy(col("chunk"), col("chunk_val"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ds"))
      .filter(size(col("ds")).between(2, maxBucket))
    buckets.select(explode(expr(
      "filter(flatten(transform(ds, a -> transform(ds, b -> " +
        "struct(a.doc_id AS id_a, a.simhash AS sh_a, b.doc_id AS id_b, b.simhash AS sh_b)))), " +
        "p -> p.id_a < p.id_b)"
    )).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        bit_count(col("p.sh_a").bitwiseXOR(col("p.sh_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Buckets dropped by [[simhashPairs]]' skew cap: (chunk, chunk_val,
    * n_docs) for every bucket wider than `maxBucket`.
    */
  def simhashOverflowBuckets(rows: Dataset[SimhashRow], maxHamming: Int = 3,
                             maxBucket: Int = 64): DataFrame =
    simhashKeyed(rows, maxHamming)
      .groupBy(col("chunk"), col("chunk_val"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)

  // -------------------------------------------------------------------
  // Embedding-cosine near-duplicates

  /** Near-duplicate pairs by embedding cosine similarity >= `threshold`.
    * Scale shape: random-hyperplane LSH buckets partition the corpus; the
    * probe side expands to Hamming-1 neighbor buckets (multi-probe) and
    * hash-joins on the bucket key — only same/adjacent-bucket pairs are
    * scored, never the full n^2. Input: (vec_id: long, embedding:
    * array<float>); output: (id_a, id_b, sim), id_a < id_b.
    *
    * Load bounding at corpus scale: size the bucket space with
    * [[Similarity.nPlanesFor]] (nPlanes ≈ log2(n) − log2(target width)), and
    * `maxBucket` caps the per-bucket width exactly like [[simhashPairs]] —
    * a degenerate bucket (e.g. millions of near-zero embeddings on the same
    * hyperplane side) would make the within-bucket join quadratic, so wider
    * buckets are dropped entirely and [[embeddingOverflowBuckets]] reports
    * what was dropped so callers can route those vectors elsewhere.
    */
  def embeddingNearDups(base: DataFrame, threshold: Double,
                        nPlanes: Int = 8, seed: Long = 42L,
                        dim: Option[Int] = None,
                        maxBucket: Int = 4096): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    import graft.ops.{Similarity => Sim}
    val d = dim.getOrElse(
      base.select(col("embedding")).as[Array[Float]].head().length)
    val planes = spark.sparkContext.broadcast(Sim.hyperplanes(nPlanes, d, seed))

    val bucketed = base.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, emb) => (id, emb, Sim.bucketOf(emb, planes.value)) }
      .toDF("vec_id", "embedding", "bucket")

    // per-bucket width gate: only buckets within the cap contribute — as a
    // home bucket AND as a probe target (same drop semantics as simhashPairs)
    val okBuckets = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") <= maxBucket)
      .select(col("bucket"))

    val probes = base.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        val b = Sim.bucketOf(emb, planes.value)
        (b +: (0 until nPlanes).map(p => b ^ (1 << p))).map(pb => (id, emb, pb))
      }
      .toDF("id_a", "emb_a", "bucket")

    probes.join(okBuckets, Seq("bucket"))
      .join(bucketed, Seq("bucket"))
      .filter(col("id_a") < col("vec_id"))
      .select(col("id_a"), col("vec_id").as("id_b"),
        col("emb_a"), col("embedding").as("emb_b"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .mapPartitions(_.map { case (a, b, ea, eb) =>
        (a, b, Sim.cosine(ea, eb))
      })
      .toDF("id_a", "id_b", "sim")
      .filter(col("sim") >= threshold)
      .distinct()
  }

  /** Buckets dropped by [[embeddingNearDups]]' width cap: (bucket, n_docs)
    * for every hyperplane bucket wider than `maxBucket` — mirror of
    * [[simhashOverflowBuckets]].
    */
  def embeddingOverflowBuckets(base: DataFrame,
                               nPlanes: Int = 8, seed: Long = 42L,
                               dim: Option[Int] = None,
                               maxBucket: Int = 4096): DataFrame = {
    import graft.ops.{Similarity => Sim}
    Sim.lshBuckets(base, nPlanes, seed, dim).toDF()
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)
  }
}
