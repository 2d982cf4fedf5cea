package graft.spark

/** Scratch-directory resolution for shuffle/stage spill.
  *
  * The sandbox benchmarks pin `spark.local.dir` to tmpfs because shuffle
  * index commits serialize on a JVM-global lock around small-file IO
  * (BASELINE.md "sandbox scaling ceiling"). On hosts without a usable
  * `/dev/shm` (containers commonly cap it at 64MB), that hardcoded path
  * breaks shuffle writes — so the path is resolved here with an env
  * override and a JVM-tmp fallback instead of being hardcoded at each
  * session builder.
  */
object Scratch {

  /** `spark.local.dir`: `GRAFT_LOCAL_DIR` env > `/dev/shm/spark-local`
    * (when /dev/shm is present and writable) > JVM temp dir. */
  def localDir: String =
    sys.env.getOrElse("GRAFT_LOCAL_DIR", {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm/spark-local"
      else new java.io.File(System.getProperty("java.io.tmpdir"), "spark-local").getPath
    })

  /** Parent dir for benchmark/pipeline work dirs (same resolution). */
  def workParent: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(sys.env.getOrElse("GRAFT_LOCAL_DIR", {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm"
      else System.getProperty("java.io.tmpdir")
    }))
    java.nio.file.Files.createDirectories(p)
    p
  }

  /** A new `<prefix><digits>` work dir under [[workParent]], deleted with
    * everything in it when the JVM exits: the frames a query builds over
    * it read it lazily, so it cannot go when the query returns. */
  def workDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(workParent, prefix).toFile
    org.apache.spark.sql.GraftBridge.deleteOnExit(d)
    d.toString
  }

  /** FAIR-scheduler allocation file with the one `default` pool, FIFO
    * inside: every job of the session runs in it. Sessions opt in with
    * `spark.scheduler.mode=FAIR, spark.scheduler.allocation.file=<this>`. */
  lazy val fairPoolsXml: String = {
    val f = java.nio.file.Files.createTempFile("graft-fair-pools", ".xml")
    java.nio.file.Files.write(f,
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="default">
        |    <schedulingMode>FIFO</schedulingMode><weight>8</weight><minShare>0</minShare>
        |  </pool>
        |</allocations>
        |""".stripMargin.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f.toFile.deleteOnExit()
    f.toString
  }

  /** Force the BlockManagerMaster registration + lazy driver-endpoint
    * lookup paths once, while the session is otherwise quiet. A rehearsal
    * run wedged forever inside Spark's own
    * `BlockManagerMasterEndpoint.driverEndpoint$lzycompute` (the dedicated
    * dispatcher thread issuing a blocking self-RPC when the first *stored*
    * block triggered registration work mid-query). Storing one tiny cached
    * partition at startup walks those lazies deterministically at a point
    * where a stall would at worst delay startup, not strand a half-finished
    * query run. */
  def warmBlockManager(spark: org.apache.spark.sql.SparkSession): Unit = {
    val rdd = spark.sparkContext.parallelize(Seq(1), 1).cache()
    rdd.count()
    rdd.unpersist(blocking = true)
  }
}
