package graft.pipeline

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** spark-submit entry point for the transcript extraction pipeline.
  *
  *   spark-submit --class graft.pipeline.ExtractJob <jar> \
  *     --input  <transcripts parquet/iceberg path> \
  *     --output <dest dir> \
  *     [--buckets 64] [--passes 1] [--resume] [--salt 0]
  *     [--format parquet|iceberg] [--main-content]
  *
  * Scale design:
  *  - rows are routed to `buckets` stable hash buckets of `conv_id` by one
  *    column expression, `pmod(xxhash64(conv_id), buckets)`, which selects
  *    a pass's rows, keys the salted and the write repartitions, and is
  *    written as the `_bucket` column with `partitionBy(_bucket)`; with
  *    `--passes P > 1` the job runs P
  *    sequential sub-jobs each covering `buckets/P` buckets and records a
  *    progress marker per completed pass — `--resume` skips completed
  *    passes, giving checkpointed restart at pass granularity;
  *  - storage goes through the [[TableIO]] seam: `--format parquet` writes
  *    directory-per-pass Parquet, `--format iceberg` commits each pass
  *    atomically as one Iceberg snapshot via
  *    `writeTo(...).overwritePartitions()`; resume reads the progress
  *    markers for both formats;
  *  - extraction itself is shuffle-free; the optional salted
  *    `repartition` balances bucket passes, and skew from very long
  *    conversations is neutralized because routing hashes conv_id but
  *    repartitioning salts by (`conv_id`, `turn_idx` div salt) so one
  *    conversation can spread over `salt` tasks;
  *  - the write stage repartitions by `_bucket` into
  *    `min(buckets/P, defaultParallelism)` tasks, so every core writes and
  *    no task holds more than the pass's buckets, then sorts within each
  *    task by (`_bucket`, `conv_id`, `turn_idx`) for stable turn order in
  *    every bucket file;
  *  - lineage rows (partition id, counts, XOR digest) are folded by the
  *    writer tasks themselves, from the typed rows they write
  *    ([[Extraction.foldLineage]]), and reach the driver through an
  *    accumulator. The write stage is the job's result stage, whose
  *    accumulator updates Spark applies once per partition and never from a
  *    failed attempt, so the counts are exact without re-reading the pass or
  *    collecting a data row. The ≤ buckets/P rows land as one file in
  *    `<output>/_lineage`;
  *  - the closing `job-done` JSON line sums the lineage rows of the passes
  *    this run executed (a resumed run skips the completed passes), so its
  *    counts are exact too: there is no second, per-row counter in the
  *    extract stage, a shuffle-map stage whose re-run would count again;
  *  - a local (`file:`) output is written through [[PosixLocalFileSystem]]:
  *    the pass, its lineage and the progress markers. Without libhadoop the
  *    stock local FileSystem starts a `chmod` process for every file, `.crc`
  *    sidecar and directory it creates (about 200 per 64-bucket pass); this
  *    one sets the same modes with a syscall. HDFS, object stores and the
  *    input read use their usual FileSystem.
  *
  * A pass runs three Spark jobs: the extract stage's shuffle, the sorted
  * write, and the one-task lineage write.
  */
object ExtractJob {

  final case class Args(
      input: String = "",
      output: String = "",
      buckets: Int = 64,
      passes: Int = 1,
      resume: Boolean = false,
      salt: Int = 0,
      format: String = "parquet",
      mainContent: Boolean = false
  )

  def parseArgs(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    // the value after the flag at `i`; a flag given last has none
    def value(): String = {
      require(i + 1 < argv.length, s"${argv(i)} needs a value")
      i += 2
      argv(i - 1)
    }
    // an integer value of at least `min`, or an error naming the flag
    def atLeast(min: Int, what: String): Int = {
      val flag = argv(i)
      val n = value().toIntOption.filter(_ >= min)
      require(n.isDefined, s"$flag must be a $what integer")
      n.get
    }
    while (i < argv.length) {
      argv(i) match {
        case "--input"   => a = a.copy(input = value())
        case "--output"  => a = a.copy(output = value())
        case "--buckets" => a = a.copy(buckets = atLeast(1, "positive"))
        case "--passes"  => a = a.copy(passes = atLeast(1, "positive"))
        case "--salt"    => a = a.copy(salt = atLeast(0, "non-negative"))
        case "--format"  => a = a.copy(format = value())
        case "--resume"  => a = a.copy(resume = true); i += 1
        case "--main-content" => a = a.copy(mainContent = true); i += 1
        case other        => throw new IllegalArgumentException(s"unknown arg $other")
      }
    }
    require(a.input.nonEmpty && a.output.nonEmpty, "--input and --output are required")
    require(a.buckets % a.passes == 0, "--buckets must be divisible by --passes")
    a
  }

  /** What the `job-done` line reports: the wall seconds of the run and the
    * sums of the lineage rows of the passes it executed.
    */
  final case class Summary(sec: Double, turnsIn: Long, turnsOk: Long, turnsFailed: Long,
                           parseErrors: Long, bytesIn: Long, bytesOut: Long) {
    def json: String =
      s"""{"event":"job-done","sec":$sec,"turnsIn":$turnsIn,"turnsOk":$turnsOk,""" +
      s""""turnsFailed":$turnsFailed,"parseErrors":$parseErrors,"bytesIn":$bytesIn,""" +
      s""""bytesOut":$bytesOut}"""
  }

  /** Runs the job, prints its `job-done` line and returns the [[Summary]]. */
  def run(spark: SparkSession, args: Args): Summary = {
    import spark.implicits._
    val io = TableIO.resolve(args.format)
    // progress markers go through the Hadoop FileSystem resolved from the
    // output URI so --output may be local, HDFS, or an object store; a local
    // one is the pass writes' PosixLocalFileSystem (no chmod process)
    val progressDir = new HPath(args.output, "_progress")
    val fs = progressDir.getFileSystem(PosixLocalFileSystem.conf(spark.sparkContext.hadoopConfiguration))
    fs.mkdirs(progressDir)

    val bucketsPerPass = args.buckets / args.passes
    // a turn's bucket: selects the pass, keys both repartitions, written as `_bucket`
    val bucket = pmod(xxhash64(col("conv_id")), lit(args.buckets))
    val t0 = System.nanoTime()
    val ran = Seq.newBuilder[LineageRow]
    for (pass <- 0 until args.passes) {
      val marker = new HPath(progressDir, s"pass-$pass.done")
      if (args.resume && fs.exists(marker)) {
        println(s"""{"event":"skip-pass","pass":$pass}""")
      } else {
        val lo = pass * bucketsPerPass
        val hi = lo + bucketsPerPass
        val turns = io.readInput(spark, args.input).filter(bucket >= lo && bucket < hi)

        val salted =
          if (args.salt > 1)
            turns.repartition(bucket,
              pmod(xxhash64(col("conv_id"), expr(s"turn_idx DIV ${args.salt}")), lit(args.salt)))
          else turns

        val turnsDs = salted.as[TranscriptTurn]
        val extracted =
          if (args.mainContent) Extraction.extractMain(turnsDs)
          else Extraction.extract(turnsDs)

        // stable turn ordering inside every bucket file: repartition by
        // bucket then sort (conv_id, turn_idx) within each writer task; the
        // lineage fold sits between them, in the write stage
        val lineage = spark.sparkContext.collectionAccumulator[LineageRow](s"graft.extract.lineage.pass$pass")
        val width = math.min(bucketsPerPass, spark.sparkContext.defaultParallelism)
        io.writePass(
          Extraction.foldLineage(extracted.repartition(width, bucket), lineage)
            .withColumn("_bucket", bucket)
            .sortWithinPartitions(col("_bucket"), col("conv_id"), col("turn_idx")),
          args.output, pass)

        val lin = lineage.value.asScala.toSeq.sortBy(_.partition_id)
        io.writeLineage(spark.createDataset(lin).toDF().coalesce(1), args.output, pass)
        ran ++= lin

        val mOut = fs.create(marker, true)
        try mOut.write(s"pass=$pass\n".getBytes("UTF-8")) finally mOut.close()
        println(s"""{"event":"pass-done","pass":$pass,"buckets":[$lo,$hi]}""")
      }
    }
    val all = ran.result()
    val rows = all.map(_.n_rows).sum
    val failed = all.map(_.n_errors).sum
    val summary = Summary((System.nanoTime() - t0) / 1e9, rows, rows - failed, failed,
      all.map(_.n_parse_errors).sum, all.map(_.n_chars_in).sum, all.map(_.n_chars_out).sum)
    println(summary.json)
    summary
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val spark = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try run(spark, args) finally spark.stop()
  }
}
