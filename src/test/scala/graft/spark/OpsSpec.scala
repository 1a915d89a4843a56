package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** Correctness of the training-data operators against local reference
  * computations on small deterministic data.
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def docsDF(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("minhash signature similarity estimates jaccard") {
    val a = "the quick brown fox jumps over the lazy dog again and again for fun"
    val b = "the quick brown fox jumps over the lazy cat again and again for fun"
    val c = "completely different words in this one nothing shared at all here now"
    val sa = Dedup.minhashSignature(a, k = 256, shingleN = 3, seed = 42L)
    val sb = Dedup.minhashSignature(b, k = 256, shingleN = 3, seed = 42L)
    val sc0 = Dedup.minhashSignature(c, k = 256, shingleN = 3, seed = 42L)
    def est(x: Array[Long], y: Array[Long]): Double =
      x.zip(y).count(p => p._1 == p._2).toDouble / x.length
    val exactAB = Dedup.jaccard(a, b, 3)
    assert(math.abs(est(sa, sb) - exactAB) < 0.15, s"est=${est(sa, sb)} exact=$exactAB")
    assert(est(sa, sc0) < 0.1)
  }

  test("LSH candidate pairs find planted near-duplicates") {
    val base = (0L until 40L).map(i => i -> s"unique text block number $i with some shared words ${i * 7}")
    val dups = Seq(100L -> base(3)._2, 101L -> (base(5)._2 + " tail"))
    val sigs = Dedup.minhashSignatures(docsDF(base ++ dups))
    val pairs = Dedup.candidatePairs(Dedup.lshBands(sigs, bands = 16))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 100L)))
    assert(pairs.contains((5L, 101L)))
  }

  test("simhash hamming distance separates near-dups from unrelated docs") {
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val t3 = "one two three four five six seven eight nine ten"
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(Dedup.simhash64(t1), Dedup.simhash64(t2)) <= 12)
    assert(ham(Dedup.simhash64(t1), Dedup.simhash64(t3)) > 12)
  }

  test("simhashPairs finds hamming-close pairs via pigeonhole banding") {
    import spark.implicits._
    val rows = Seq(
      Dedup.SimhashRow(1L, 0x0f0f0f0f0f0f0f0fL),
      Dedup.SimhashRow(2L, 0x0f0f0f0f0f0f0f0eL), // hamming 1 from #1
      Dedup.SimhashRow(3L, 0x0f0f0f0f0f0f0f03L), // hamming 3 from #1 (0f^03=0c -> 2 bits, +? )
      Dedup.SimhashRow(4L, -1L))
    val pairs = Dedup.simhashPairs(spark.createDataset(rows), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1L))
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L))
  }

  test("simhashPairs caps degenerate hot buckets instead of exploding") {
    import spark.implicits._
    // 10k docs with the identical simhash: unguarded, this is ~50M pairs per
    // chunk; with the cap it must complete quickly and emit zero pairs while
    // the overflow report names the dropped buckets
    val rows = (0L until 10000L).map(i => Dedup.SimhashRow(i, 0L))
    val ds = spark.createDataset(rows)
    val pairs = Dedup.simhashPairs(ds, maxHamming = 3, maxBucket = 64)
    assert(pairs.count() == 0L)
    val overflow = Dedup.simhashOverflowBuckets(ds, maxHamming = 3, maxBucket = 64)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(overflow.length == 4) // one hot bucket per chunk
    assert(overflow.forall(_._3 == 10000L))
  }

  test("verifyCandidates computes exact jaccard distributively") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "entirely unrelated content lives here today")).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.verifyCandidates(cands, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) == Dedup.jaccard(docs.collect()(0).getString(1),
      docs.collect()(1).getString(1)))
    assert(out((1L, 3L)) == 0.0)
    // the physical plan must be join-based: no driver-side collect exists in
    // verifyCandidates, so just assert both pairs were scored
    assert(out.size == 2)
  }

  test("brute-force top-k matches a local reference ranking") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(d => math.sin(seed * 31 + d * 7).toFloat)
    val base = (0L until 50L).map(i => (i, vec(i.toInt)))
    val df = base.toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df, df.filter(col("vec_id") < 3), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
      .groupBy(_._1)
    // local reference
    for (q <- 0L until 3L) {
      val expected = base.filter(_._1 != q)
        .map { case (id, e) => (id, Similarity.cosine(vec(q.toInt), e)) }
        .sortBy { case (id, s) => (-s, id) }.take(4).map(_._1).toList
      val got = out(q).sortBy(_._2).map(_._3)
      assert(got == expected, s"query $q: got $got expected $expected")
    }
  }

  /** Recall@5 of an ANN operator against `bruteForceTopK`: 200 sin-phase
    * vectors in 16 dimensions, 10 queries (BASELINE.md "ANN recall@k").
    */
  private def recallAt5(ann: (DataFrame, DataFrame) => DataFrame): Double = {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(d => math.sin(seed * 131 + d * 17).toFloat)
    val df = (0L until 200L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 10)
    def pairs(out: DataFrame) = out.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Similarity.bruteForceTopK(df, queries, k = 5))
    exact.intersect(pairs(ann(df, queries))).size.toDouble / exact.size
  }

  test("LSH ANN achieves reasonable recall vs brute force") {
    val recall = recallAt5((df, q) => Similarity.lshTopK(df, q, k = 5, nPlanes = 6))
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("IVF ANN with trained centroids achieves reasonable recall vs brute force") {
    val recall = recallAt5 { (df, q) =>
      val cs = Similarity.kmeansTrain(df, nLists = 8, iters = 5, seed = 42L, dim = 16)
      Similarity.ivfTopK(df, q, k = 5, centroids = cs, nProbe = 2)
    }
    // measured 1.0, probing 2 of 8 trained lists
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("embeddingNearDups recovers planted duplicates via LSH buckets") {
    import spark.implicits._
    // independent pseudo-random vectors (sin-phase vectors are organically
    // near-duplicate and would drown the planted relation)
    def vec(seed: Int): Array[Float] = {
      val rnd = new java.util.Random(seed * 2654435761L)
      Array.fill(32)(rnd.nextFloat() * 2f - 1f)
    }
    val base = (0L until 100L).map(i => (i, vec(i.toInt)))
    val planted = (0L until 5L).map(i => (i + 1000L, vec(i.toInt))) // exact dups
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, threshold = 0.99, nPlanes = 6,
        dim = Some(32))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 5L).foreach(i => assert(pairs.contains((i, i + 1000L)), s"missing $i"))
    // no organic false positives at 0.99 for this corpus
    assert(pairs.size == 5, pairs)
  }

  test("embeddingNearDups caps degenerate hyperplane buckets instead of exploding") {
    import spark.implicits._
    // 10k IDENTICAL embeddings land in one bucket: unguarded that join is
    // ~10^8 candidate pairs (x9 with multi-probe); with the cap the bucket is
    // dropped, the job completes quickly with zero pairs, and the overflow
    // report names the dropped bucket with its width
    val emb = Array.tabulate(16)(d => (d + 1).toFloat / 16f)
    val df = (0L until 10000L).map(i => (i, emb)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, threshold = 0.9, nPlanes = 6,
      dim = Some(16), maxBucket = 64)
    assert(pairs.count() == 0L)
    val overflow = Dedup.embeddingOverflowBuckets(df, nPlanes = 6,
      dim = Some(16), maxBucket = 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(overflow.length == 1 && overflow.head._2 == 10000L, overflow.toList)
    // same cap pattern on the ANN path: a hot base bucket is excluded from
    // scoring rather than scanned quadratically
    val topk = Similarity.lshTopK(df, df.filter(col("vec_id") < 3), k = 5,
      nPlanes = 6, dim = Some(16), maxBucket = 64)
    assert(topk.count() == 0L)
    assert(Similarity.lshOverflowBuckets(df, nPlanes = 6, dim = Some(16),
      maxBucket = 64).count() == 1L)
  }

  test("IVF top-k with seeded centroids matches a local reference") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(d => math.sin(seed * 131 + d * 17).toFloat)
    val base = (0L until 120L).map(i => (i, vec(i.toInt)))
    val df = base.toDF("vec_id", "embedding")
    val cs = Similarity.ivfCentroids(4, 16, 42L)
    val out = Similarity.ivfTopK(df, df.filter(col("vec_id") < 3), k = 4,
        centroids = cs, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
      .groupBy(_._1)
    // local replay: assign, probe 2 nearest lists, exact-rank inside them
    val assigned = base.map { case (id, e) => (id, Similarity.assignList(e, cs)) }.toMap
    for (q <- 0L until 3L) {
      val probed = Similarity.probeLists(vec(q.toInt), cs, 2).toSet
      val expected = base
        .filter { case (id, _) => id != q && probed.contains(assigned(id)) }
        .map { case (id, e) => (id, Similarity.cosine(vec(q.toInt), e)) }
        .sortBy { case (id, s) => (-s, id) }.take(4).map(_._1).toList
      val got = out(q).sortBy(_._2).map(_._3)
      assert(got == expected, s"query $q: got $got expected $expected")
    }
  }

  test("kmeansTrain is deterministic across partitionings and cuts quantization error") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] = {
      val rnd = new java.util.Random(seed * 2654435761L)
      Array.fill(8)(rnd.nextFloat() * 2f - 1f)
    }
    val base = (0L until 300L).map(i => (i, vec(i.toInt)))
    val df1 = base.toDF("vec_id", "embedding").repartition(1)
    val df7 = base.toDF("vec_id", "embedding").repartition(7)
    val c1 = Similarity.kmeansTrain(df1, nLists = 4, iters = 3, seed = 42L, dim = 8)
    val c7 = Similarity.kmeansTrain(df7, nLists = 4, iters = 3, seed = 42L, dim = 8)
    // fixed-point accumulation makes the combine order-independent: the
    // trained centroids are BIT-identical regardless of partitioning
    assert(c1.map(_.toList).toList == c7.map(_.toList).toList)
    // Lloyd iterations must not increase total quantization error vs init
    def qErr(cs: Array[Array[Double]]): Double =
      base.map { case (_, e) => Similarity.sqDist(e, cs(Similarity.assignList(e, cs))) }.sum
    val init = Similarity.ivfCentroids(4, 8, 42L)
    assert(qErr(c1) < qErr(init), s"trained=${qErr(c1)} init=${qErr(init)}")
  }

  test("IVF width cap drops degenerate lists and reports the overflow") {
    import spark.implicits._
    val emb = Array.tabulate(16)(d => (d + 1).toFloat / 16f)
    val df = (0L until 5000L).map(i => (i, emb)).toDF("vec_id", "embedding")
    val cs = Similarity.ivfCentroids(4, 16, 42L)
    val topk = Similarity.ivfTopK(df, df.filter(col("vec_id") < 3), k = 5,
      centroids = cs, nProbe = 2, maxList = 64)
    assert(topk.count() == 0L)
    val overflow = Similarity.ivfOverflowLists(df, cs, maxList = 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(overflow.length == 1 && overflow.head._2 == 5000L, overflow.toList)
  }

  test("nPlanesFor sizes the bucket space to the corpus") {
    assert(Similarity.nPlanesFor(10000L, 64) == 8)
    assert(Similarity.nPlanesFor(1000000000L, 64) == 24)
    assert(Similarity.nPlanesFor(10L, 64) == 1)   // clamp low
    assert(Similarity.nPlanesFor(Long.MaxValue, 1) == 30) // clamp high
  }

  test("fingerprint column matches local fold") {
    import spark.implicits._
    val texts = Seq((1L, "table scan fast"), (2L, "a"), (3L, "big merge join query"))
    def local(t: String): Long =
      t.split(' ').foldLeft(0L)((acc, w) => (acc * 31L + w.length * 17L + w.head.toLong) % 2147483647L)
    val out = texts.toDF("doc_id", "text")
      .select(col("doc_id"), TextStats.fingerprintColumn(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.foreach { case (id, t) => assert(out(id) == local(t), s"doc $id") }
  }

  test("multimodal stub fallback is deterministic for unrecognised payloads") {
    import spark.implicits._
    val media = Seq((1L, "hello world".getBytes("UTF-8")), (2L, Array.empty[Byte]))
      .toDF("doc_id", "payload")
    val out = Multimodal.decode(media).collect().sortBy(_.doc_id)
    assert(out(0).n_bytes == 11L)
    assert(out(0).meta.format == "stub")
    assert(out(0).pixel_sum == -1L)
    assert(out(0).feature.sum > 0.99f && out(0).feature.sum < 1.01f)
    assert(out(1).n_bytes == 0L)
    // determinism
    val again = Multimodal.decode(media).collect().sortBy(_.doc_id)
    assert(out.map(_.meta).toSeq == again.map(_.meta).toSeq)
  }

  /** Closed-form replay of the syntheticPng generator (mirrors the DuckDB
    * oracle in SparkEntry.oracleSql("q_multimodal")).
    */
  private def expectedPng(id: Long): (Int, Int, Int, Long) = {
    val w = (1L + id % 16L).toInt
    val h = (1L + id % 11L).toInt
    val idm = (id % 256L).toInt
    val gray = id % 2L == 0L
    var sum = 0L
    for (y <- 0 until h; x <- 0 until w) {
      if (gray) sum += (7 * x + 13 * y + idm) % 256
      else sum += (3 * x + 5 * y + idm) % 256 +
        (11 * x + 2 * y + 3 * idm) % 256 + (x + 7 * y + 5 * idm) % 256
    }
    (w, h, if (gray) 1 else 3, sum)
  }

  test("multimodal real decode: PNG dims/channels/pixel-sum match closed form") {
    import spark.implicits._
    val ids = (1L to 40L) ++ Seq(255L, 256L, 1000L, 12345L)
    val media = ids.map(id => (id, Multimodal.syntheticPng(id))).toDF("doc_id", "payload")
    val out = Multimodal.decode(media).collect().map(d => d.doc_id -> d).toMap
    ids.foreach { id =>
      val (w, h, ch, sum) = expectedPng(id)
      val d = out(id)
      assert(d.meta.format == "png", s"doc $id format")
      assert(d.meta.width == w && d.meta.height == h, s"doc $id dims")
      assert(d.meta.channels == ch, s"doc $id channels")
      assert(d.pixel_sum == sum, s"doc $id pixel_sum ${d.pixel_sum} != $sum")
      assert(d.feature.length == 16 && d.feature.forall(f => f >= 0f && f <= 1f),
        s"doc $id feature grid")
    }
  }

  test("multimodal real decode recognises JPEG/GIF/BMP headers") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    for (fmt <- Seq("jpg", "gif", "bmp")) {
      val img = new BufferedImage(13, 9, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until 9; x <- 0 until 13; b <- 0 until 3)
        img.getRaster.setSample(x, y, b, (x * 5 + y * 3 + b * 7) % 256)
      val bos = new ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"JDK writer for $fmt")
      val Some((meta, Some(_))) = Multimodal.decodeImage(bos.toByteArray)
      assert(meta.width == 13 && meta.height == 9, s"$fmt dims")
      assert(Set("jpeg", "gif", "bmp").contains(meta.format), s"$fmt name ${meta.format}")
    }
  }

  test("multimodal feature grid is exact mean intensity on a uniform image") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(8, 8, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 8; x <- 0 until 8) img.getRaster.setSample(x, y, 0, 102)
    val f = Multimodal.imageFeature(img)
    assert(f.length == 16)
    f.foreach(v => assert(math.abs(v - 102f / 255f) < 1e-6f))
    assert(Multimodal.pixelSum(img) == 102L * 64L)
  }

  test("multimodal bomb guard: oversized raster yields metadata only") {
    // Hand-craft a PNG whose IHDR declares 8192x4096 = 32 Mpx (> MaxPixels)
    // from a few dozen bytes — the decompression-bomb shape. The guard must
    // report the header metadata WITHOUT attempting the pixel read.
    def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + body.length)
      bb.putInt(body.length).put(tag.getBytes("US-ASCII")).put(body)
      val crc = new java.util.zip.CRC32
      crc.update(tag.getBytes("US-ASCII")); crc.update(body)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(8192).putInt(4096)
      .put(8.toByte)  // bit depth
      .put(0.toByte)  // color type: grayscale
      .put(0.toByte).put(0.toByte).put(0.toByte) // compression/filter/interlace
      .array()
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val bomb = sig ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", Array[Byte](0x78, 0x01)) ++ chunk("IEND", Array.empty)
    assert(8192L * 4096L > Multimodal.MaxPixels)
    val d = Multimodal.decodeOne(7L, bomb)
    assert(d.meta.format == "png" && d.meta.width == 8192 && d.meta.height == 4096)
    assert(d.pixel_sum == -1L && d.feature.isEmpty)
  }

  /** Closed-form replay of the syntheticWav generator (mirrors the DuckDB
    * oracle in SparkEntry.oracleSql("q_audio")).
    */
  private def expectedWav(id: Long): (Int, Int, Int, Long) = {
    val c = (1L + id % 2L).toInt
    val bits = if (id % 3L == 0L) 8 else 16
    val n = (16L + id % 97L).toInt
    val idm = (id % 256L).toInt
    var sum = 0L
    for (i <- 0 until n; ch <- 0 until c) {
      if (bits == 8) sum += (5 * i + 9 * ch + idm) % 256
      else sum += ((7 * i + 11 * ch + idm) % 4096) - 2048
    }
    (c, bits, n, sum)
  }

  test("audio real decode: WAV channels/bits/frames/duration/sample-sum match closed form") {
    import spark.implicits._
    // ids cover mono/stereo x 8/16-bit x junk-LIST-chunk (odd id) x
    // odd-length data pad (id 102: even, 8-bit mono, n = 21 frames... n is
    // 16 + id % 97, so 102 -> 21 odd -> pad byte on the wire)
    val ids = (1L to 24L) ++ Seq(96L, 97L, 102L, 255L, 1000L, 12345L)
    val media = ids.map(id => (id, Audio.syntheticWav(id))).toDF("doc_id", "payload")
    val out = Audio.decode(media).collect().map(d => d.doc_id -> d).toMap
    ids.foreach { id =>
      val (c, bits, n, sum) = expectedWav(id)
      val d = out(id)
      assert(d.meta.format == "wav", s"doc $id format")
      assert(d.meta.channels == c && d.meta.bits == bits, s"doc $id shape")
      assert(d.meta.sampleRate == 8000 && d.meta.nFrames == n.toLong, s"doc $id frames")
      assert(d.duration_us == n.toLong * 125L, s"doc $id duration")
      assert(d.sample_sum == sum, s"doc $id sample_sum ${d.sample_sum} != $sum")
      assert(d.feature.length == 8 && d.feature.forall(f => f >= 0f && f <= 1f),
        s"doc $id feature")
    }
  }

  test("audio stub fallback: non-RIFF, truncated, and non-PCM payloads degrade") {
    import spark.implicits._
    // float PCM (format tag 3) must NOT be decoded as integer PCM
    val floatWav = {
      val good = Audio.syntheticWav(2L)
      val idx = good.indexOfSlice("fmt ".getBytes("US-ASCII"))
      good.updated(idx + 8, 3.toByte)
    }
    val media = Seq(
      (1L, "plain text payload".getBytes("UTF-8")),
      (2L, Array.empty[Byte]),
      (3L, Audio.syntheticWav(5L).take(20)), // truncated inside fmt
      (4L, floatWav)
    ).toDF("doc_id", "payload")
    val out = Audio.decode(media).collect().sortBy(_.doc_id)
    out.foreach { d =>
      assert(d.meta.format == "stub", s"doc ${d.doc_id} must degrade")
      assert(d.sample_sum == -1L && d.feature.isEmpty, s"doc ${d.doc_id} stub shape")
    }
    assert(out(0).meta.nFrames == 18L) // stub nFrames = byte length
    // determinism
    val again = Audio.decode(media).collect().sortBy(_.doc_id)
    assert(out.map(_.meta).toSeq == again.map(_.meta).toSeq)
  }

  test("audio 16-bit signed decode: constant negative signal sums and features exactly") {
    // hand-built mono 16-bit WAV: 40 frames of -1000
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
    def t4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    t4("RIFF"); w32(4 + 24 + 8 + 80); t4("WAVE")
    t4("fmt "); w32(16); w16(1); w16(1); w32(8000); w32(16000); w16(2); w16(16)
    t4("data"); w32(80)
    (0 until 40).foreach(_ => w16(-1000 & 0xffff))
    val d = Audio.decodeOne(9L, bos.toByteArray)
    assert(d.meta.format == "wav" && d.meta.nFrames == 40L)
    assert(d.sample_sum == -40000L)
    // constant |s| = 1000 -> every bucket = 1000/32768
    val expected = 1000f / 32768f
    assert(d.feature.forall(f => math.abs(f - expected) < 1e-6f), d.feature.mkString(","))
  }

  test("audio data chunk before fmt still decodes (robust chunk walk)") {
    val ref = Audio.decodeOne(4L, Audio.syntheticWav(4L))
    // rebuild id=4's wav with data first, then fmt
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
    def t4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    val c = 1; val bits = 16; val n = 20; val idm = 4
    val pcm = new java.io.ByteArrayOutputStream()
    for (i <- 0 until n; ch <- 0 until c) {
      val s = ((7 * i + 11 * ch + idm) % 4096) - 2048
      pcm.write(s & 0xff); pcm.write((s >> 8) & 0xff)
    }
    t4("RIFF"); w32(4 + 8 + pcm.size + 24); t4("WAVE")
    t4("data"); w32(pcm.size); bos.write(pcm.toByteArray)
    t4("fmt "); w32(16); w16(1); w16(c); w32(8000); w32(8000 * c * 2); w16(c * 2); w16(bits)
    val d = Audio.decodeOne(4L, bos.toByteArray)
    assert(d.meta.format == "wav" && d.meta.channels == ref.meta.channels)
    assert(d.meta.nFrames == ref.meta.nFrames && d.sample_sum == ref.sample_sum)
  }

  test("audio IEEE-float WAV (format 3) decode matches the dyadic closed form") {
    val ids = (1L to 12L) ++ Seq(95L, 100L, 255L, 1000L)
    ids.foreach { id =>
      val d = Audio.decodeOne(id, Audio.syntheticFloatWav(id))
      val c = (1L + id % 2L).toInt
      val n = (16L + id % 97L).toInt
      val idm = (id % 256L).toInt
      var sum = 0L
      for (i <- 0 until n; ch <- 0 until c)
        sum += ((13 * i + 17 * ch + idm) % 4096) - 2048
      assert(d.meta.format == "wavf", s"doc $id format ${d.meta.format}")
      assert(d.meta.channels == c && d.meta.bits == 32, s"doc $id shape")
      assert(d.meta.sampleRate == 8000 && d.meta.nFrames == n.toLong, s"doc $id frames")
      assert(d.duration_us == n.toLong * 125L, s"doc $id duration")
      assert(d.sample_sum == sum, s"doc $id sum ${d.sample_sum} != $sum")
      // float samples lie in [-8, 8); full-scale for the feature is 1.0, so
      // buckets may exceed 1 — only finiteness and shape are asserted
      assert(d.feature.length == 8 && d.feature.forall(f => !f.isNaN))
    }
  }

  test("audio 24-bit PCM: signed 3-byte samples sum exactly") {
    // hand-built mono 24-bit WAV: frames [-1, 1, -8388608, 8388607, 0, 300000]
    val samples = Seq(-1, 1, -8388608, 8388607, 0, 300000)
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
    def t4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    val dataLen = samples.length * 3
    t4("RIFF"); w32(4 + 24 + 8 + dataLen); t4("WAVE")
    t4("fmt "); w32(16); w16(1); w16(1); w32(8000); w32(8000 * 3); w16(3); w16(24)
    t4("data"); w32(dataLen)
    samples.foreach { s =>
      bos.write(s & 0xff); bos.write((s >> 8) & 0xff); bos.write((s >> 16) & 0xff)
    }
    val d = Audio.decodeOne(11L, bos.toByteArray)
    assert(d.meta.format == "wav" && d.meta.bits == 24 && d.meta.nFrames == 6L)
    assert(d.sample_sum == samples.map(_.toLong).sum, d.sample_sum)
    assert(d.feature.length == 8 && d.feature.forall(f => f >= 0f && f <= 1f))
  }

  test("audio WAVE_FORMAT_EXTENSIBLE: real tag read from the SubFormat GUID") {
    // rebuild a synthetic WAV's 16-byte fmt chunk as a 40-byte extensible
    // one (tag 0xFFFE, cbSize 22, SubFormat GUID leading with the real tag)
    def extensible(plain: Array[Byte], subFormat: Int): Array[Byte] = {
      val idx = plain.indexOfSlice("fmt ".getBytes("US-ASCII"))
      val out = new java.io.ByteArrayOutputStream()
      out.write(plain, 0, idx + 4)
      def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
      w32(40) // fmt size
      w16(0xFFFE) // WAVE_FORMAT_EXTENSIBLE
      out.write(plain, idx + 10, 14) // channels..bits copied from the original
      w16(22) // cbSize
      w16(0); w32(0) // validBitsPerSample, channelMask
      w16(subFormat) // SubFormat GUID bytes 0-1: the REAL format tag
      out.write(Array.fill[Byte](14)(0x11)) // rest of the GUID
      out.write(plain, idx + 8 + 16, plain.length - (idx + 8 + 16)) // data onwards
      out.toByteArray
    }
    for (id <- Seq(2L, 4L, 7L)) { // 16-bit PCM ids (id % 3 != 0)
      val plain = Audio.decodeOne(id, Audio.syntheticWav(id))
      val ext = Audio.decodeOne(id, extensible(Audio.syntheticWav(id), 1))
      assert(ext.meta == plain.meta && ext.sample_sum == plain.sample_sum, s"id=$id")
    }
    val plainF = Audio.decodeOne(10L, Audio.syntheticFloatWav(10L))
    // float generator writes an 18-byte fmt; rebuild from a hand assembly:
    // reuse its data by swapping the fmt — simpler: extensible-wrap a PCM id
    // with a float subtag must NOT decode (bits stay 16, not 32)
    val wrongFloat = Audio.decodeOne(2L, extensible(Audio.syntheticWav(2L), 3))
    assert(wrongFloat.meta.format == "stub")
    assert(plainF.meta.format == "wavf") // sanity: the real float path still works
    // unsupported SubFormat (ADPCM) degrades
    val adpcm = Audio.decodeOne(2L, extensible(Audio.syntheticWav(2L), 2))
    assert(adpcm.meta.format == "stub")
  }

  test("audio chunk walk survives 32-bit declared-size bombs (Long cursor)") {
    def wavWithJunkSize(junkSz: Long): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
      def w32(v: Long): Unit = { w16((v & 0xffff).toInt); w16(((v >> 16) & 0xffff).toInt) }
      def t4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
      t4("RIFF"); w32(0x7fffffffL); t4("WAVE")
      t4("JUNK"); w32(junkSz) // declared size >> actual remaining bytes
      bos.write(new Array[Byte](64))
      bos.toByteArray
    }
    // the ADVICE scenario: sz in [2^31-body, 2^31) passes the old guard but
    // wraps `body + sz.toInt` negative -> was an uncaught
    // IndexOutOfBoundsException; the Long cursor must end the walk cleanly
    for (sz <- Seq(2147483628L, 0xFFFFFFE0L, 0xFFFFFFFFL, 0x80000000L)) {
      val d = Audio.decodeOne(1L, wavWithJunkSize(sz))
      assert(d.meta.format == "stub", s"sz=$sz must degrade, got ${d.meta.format}")
      assert(d.sample_sum == -1L)
    }
    // and a DATA chunk declaring a bomb size over a short payload: the
    // length cap turns it into the actual byte count, decode stays real
    val good = Audio.syntheticWav(2L)
    val dataIdx = good.indexOfSlice("data".getBytes("US-ASCII"))
    val bombed = good.clone()
    bombed(dataIdx + 4) = 0xff.toByte; bombed(dataIdx + 5) = 0xff.toByte
    bombed(dataIdx + 6) = 0xff.toByte; bombed(dataIdx + 7) = 0x7f.toByte
    val d2 = Audio.decodeOne(2L, bombed)
    val ref2 = Audio.decodeOne(2L, good)
    assert(d2.meta.format == "wav" && d2.meta.nFrames == ref2.meta.nFrames)
    assert(d2.sample_sum == ref2.sample_sum)
  }

  test("boilerplate line removal: cross-doc repeated lines drop, order and uniques survive") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "HEADER\nunique one\n  HEADER  \nfooter"),  // trimmed match + per-doc repeat
      (2L, "HEADER\nunique two\nfooter"),
      (3L, "HEADER\nunique three\n\nfooter"),
      (4L, "nothing shared here\n\n")
    ).toDF("doc_id", "text")
    val boiler = Dedup.boilerplateLines(corpus, minDocs = 3L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // per-doc repeats count once: HEADER appears twice in doc 1 but n_docs=3
    assert(boiler == Map("HEADER" -> 3L, "footer" -> 3L), boiler)
    val out = Dedup.removeBoilerplateLines(corpus, minDocs = 3L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out(0) == ((1L, "unique one", 1L, 3L)))
    assert(out(1) == ((2L, "unique two", 1L, 2L)))
    // blank lines are structure, not boilerplate: they survive
    assert(out(2) == ((3L, "unique three\n", 2L, 2L)))
    assert(out(3) == ((4L, "nothing shared here\n\n", 3L, 0L)))
  }

  test("connectedComponents matches a local union-find on a random graph") {
    import spark.implicits._
    val rng = new java.util.Random(4242L)
    val n = 400
    val pairs = (0 until 600).map { _ =>
      (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
    }.filter(p => p._1 != p._2)
    // local union-find reference
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val ra = find(a.toInt); val rb = find(b.toInt)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical rep = min id in component
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val minOf = nodes.groupBy(id => find(id.toInt)).map { case (_, ids) => ids.min }
    val expected = nodes.map { id =>
      val root = find(id.toInt)
      id -> nodes.filter(j => find(j.toInt) == root).min
    }.toMap
    val out = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == nodes.toSet)
    assert(out == expected)
    assert(minOf.forall(m => out(m) == m)) // reps label themselves
    // determinism across partitionings
    val out7 = Dedup.connectedComponents(pairs.toDF("id_a", "id_b").repartition(7))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out7 == out)
  }

  test("connectedComponents refuses to return a partially-merged clustering") {
    import spark.implicits._
    // a 30-edge chain has diameter 30: maxIters=3 cannot reach fixpoint and
    // must THROW (accounting guard), never silently return partial clusters
    val chain = (1L to 30L).map(i => (i - 1, i))
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain.toDF("id_a", "id_b"), maxIters = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // and with enough rounds the same chain folds to a single component
    val ok = Dedup.connectedComponents(chain.toDF("id_a", "id_b"), maxIters = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet == Set(0L) && ok.size == 31)
  }

  test("ANN candidate set entering the rank window is bounded (map-side top-k)") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(d => math.sin(seed * 131 + d * 17).toFloat)
    val base = (0L until 200L).map(i => (i, vec(i.toInt)))
    val df = base.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 10)
    val k = 5
    val lshCands = Similarity.lshCandidates(df, queries, k, nPlanes = 6)
    val lshBound = lshCands.rdd.getNumPartitions.toLong * 10L * k
    assert(lshCands.count() <= lshBound,
      s"lsh candidates ${lshCands.count()} exceed partitions*queries*k=$lshBound")
    val cs = Similarity.ivfCentroids(4, 16, 42L)
    val ivfCands = Similarity.ivfCandidates(df, queries, k, cs, nProbe = 2)
    val ivfBound = ivfCands.rdd.getNumPartitions.toLong * 10L * k
    assert(ivfCands.count() <= ivfBound,
      s"ivf candidates ${ivfCands.count()} exceed partitions*queries*k=$ivfBound")
    // and each query still yields at most k ranked rows with rank 1..k
    val ranked = Similarity.lshTopK(df, queries, k, nPlanes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    ranked.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length <= k && rows.map(_._2).sorted.sameElements(1L to rows.length.toLong), s"query $q ranks")
    }
  }

  test("map-side top-k tie-break keeps the lowest neighbor_id, Long.MinValue included") {
    import spark.implicits._
    import Similarity.Neighbor
    val scored = Seq(
      Neighbor(1L, 7L, 0.5), Neighbor(1L, Long.MinValue, 0.5), Neighbor(1L, 0L, 0.5),
      Neighbor(1L, 3L, 0.9), Neighbor(2L, Long.MaxValue, 0.1), Neighbor(2L, Long.MinValue, 0.1))
    val kept = Similarity.partitionTopK(spark.createDataset(scored).coalesce(1), k = 2)
      .collect().groupBy(_.query_id).map { case (q, ns) => q -> ns.map(_.neighbor_id).toSet }
    assert(kept == Map(1L -> Set(3L, Long.MinValue), 2L -> Set(Long.MaxValue, Long.MinValue)))
  }
}
