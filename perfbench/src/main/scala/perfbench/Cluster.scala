package perfbench

import org.apache.spark.sql.SparkSession

/** Spark sessions against `local-cluster`: every executor is its own
  * single-core JVM, launched by an in-process worker. Separate JVMs, not
  * threads of one JVM, because allocation-heavy threads inside one JVM stop
  * scaling on kernels that serialize page-table work per address space.
  *
  * The launcher finds Spark through SPARK_HOME and SPARK_SCALA_VERSION,
  * which the benchmark's launcher sets; the program's classes reach the
  * executors through `perfbench.classes`, and scratch space stays under
  * `java.io.tmpdir`.
  */
object Cluster {

  /** Executor heap in MiB; the whole heap is committed and touched at JVM
    * start, so page faults on first use stay out of timed repetitions.
    */
  val ExecMb = 768

  private def prop(k: String): String =
    Option(System.getProperty(k)).getOrElse(throw new IllegalStateException(s"-D$k is not set"))

  def start(executors: Int): SparkSession = {
    val tmp = prop("java.io.tmpdir")
    val b = SparkSession.builder()
      .appName(s"perfbench-$executors")
      .master(s"local-cluster[$executors,1,$ExecMb]")
      .config("spark.executor.memory", s"${ExecMb}m")
      .config("spark.executor.extraClassPath", prop("perfbench.classes"))
      .config("spark.executor.extraJavaOptions",
        s"-Xms${ExecMb}m -XX:+AlwaysPreTouch -XX:ParallelGCThreads=1 -XX:ConcGCThreads=1 " +
          s"-XX:CICompilerCount=2 -Djava.io.tmpdir=$tmp")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.rpc.io.threads", "2")
      .config("spark.shuffle.io.serverThreads", "2")
      .config("spark.shuffle.io.clientThreads", "2")
      .config("spark.locality.wait", "0")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a job started before every executor has registered would time
    // waiting for resources, not extraction
    val deadline = System.currentTimeMillis() + 90000
    while (spark.sparkContext.getExecutorMemoryStatus.size < executors + 1) {
      if (System.currentTimeMillis() > deadline) {
        stop(spark)
        throw new IllegalStateException(s"only some of $executors executors registered")
      }
      Thread.sleep(50)
    }
    spark
  }

  /** Releases all but one executor and waits until the released JVMs have
    * ended: their shutdown takes processors for a while, and a repetition
    * timed before it ends measures that too. The one kept is warm, so the
    * one-executor level needs no new set-up.
    */
  def shrinkToOne(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val ids = org.apache.spark.PerfbenchBus.executorIds(sc).sorted
    // the in-process worker starts every executor JVM as a child of this one
    def jvms = ProcessHandle.current().children().filter(_.isAlive).count()
    val keep = jvms - (ids.size - 1)
    require(ids.size <= 1 || sc.killExecutors(ids.tail), "executors could not be released")
    val deadline = System.currentTimeMillis() + 30000
    while (jvms > keep) {
      if (System.currentTimeMillis() > deadline) throw new IllegalStateException("released executors did not end")
      Thread.sleep(50)
    }
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
