package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSession {
  lazy val spark: SparkSession = GraftSession.build("4", "graft-test")
  val sf: String = "/root/testdata/sf0.001"

  /** Run `op` and count Spark jobs — each job is one blocking driver
    * round-trip, the currency the iterative operators must spend
    * frugally (the r10 finding: per-squaring convergence polls made
    * mst_forest the slowest query on driver boxes).
    */
  def countJobs(op: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      op
      // The listener bus is async; settle until the count stops moving.
      var prev = -1
      while (jobs.get() != prev) { prev = jobs.get(); Thread.sleep(250) }
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** Run `body` on a fresh temp copy of the table files in `dir`, deleted
    * afterwards. The artifact stores are keyed by directory, so theirs
    * start cold in the copy.
    */
  def withTableCopy[T](dir: String)(body: String => T): T = {
    val copy = java.nio.file.Files.createTempDirectory("graft-table-copy")
    try {
      new java.io.File(dir).listFiles.foreach(f =>
        java.nio.file.Files.copy(f.toPath, copy.resolve(f.getName)))
      body(copy.toString)
    } finally {
      val p = new org.apache.hadoop.fs.Path(copy.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
