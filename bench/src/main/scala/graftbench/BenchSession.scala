package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The one place the benchmark's session settings live: the same chain as
  * `graft.Bench` (local[N], N shuffle partitions, AQE with partition
  * coalescing, the cached-plan partitioning rule, UTC, no NTZ inference,
  * no UI), plus the warehouse and scratch dirs pinned under the run's
  * work dir so the run writes nothing outside it.
  */
object BenchSession {
  def local(app: String, cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Cores actually granted, read back from the running session. */
  def coresOf(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Old-generation bytes in use once full collections stop freeing
    * memory. Spark's cleaner thread releases broadcast and shuffle state
    * only after a collection has freed its owner, and that release can
    * free further owners in turn: right after a night the first two
    * collections still count ~100 MB that the third frees. So collections
    * repeat, 0.15 s apart, at least four times and until one frees less
    * than 1 MB (at most eight).
    */
  def oldGenAfterGc(): Long = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
        .map(_.getUsage.getUsed).sum
    }
    var prev = collect()
    var cur = prev
    var rounds = 1
    while (rounds < 4 || (prev - cur >= (1L << 20) && rounds < 8)) {
      Thread.sleep(150)
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }

  /** Fixed yardsticks of this machine's speed right now: a CPU loop and a
    * write+fsync+read of 32 MB. Recorded, never gated.
    */
  def calibCpuS(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0L
    while (i < 200000000L) { x = x * 6364136223846793005L + 1442695040888963407L + i; i += 1 }
    if (x == 42) println("") // keeps the loop from being optimized away
    (System.nanoTime() - t0) / 1e9
  }

  def calibIoS(dir: java.nio.file.Path): Double = {
    val f = dir.resolve("calib.bin")
    val buf = java.nio.ByteBuffer.allocate(1 << 20)
    val t0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      (0 until 32).foreach { _ => buf.clear(); ch.write(buf) }
      ch.force(true)
    } finally ch.close()
    val in = java.nio.file.Files.readAllBytes(f)
    java.nio.file.Files.delete(f)
    if (in.length != 32 << 20) sys.error("calibration file short")
    (System.nanoTime() - t0) / 1e9
  }
}
