package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up `setup-reps` times (each a fresh
  * SparkSession), run the manifest's `warmup_rounds` untimed rounds, then
  * timed rounds of the workload until `seconds` have passed (at least
  * three), check their outputs, and write every span and check to `out` as
  * JSON.
  *
  * Arguments (all required): --manifest FILE --out FILE --seconds S --trace 0|1 --cores N --setup-reps R --local-dir DIR
  */
object Main {

  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every cached relation and memoized index, so that the next
    * round starts from raw input again.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.IndexCache.clear()
  }

  /** Block-manager bytes (memory and disk) held by cached data. */
  def heldBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = opts("cores").toInt
    val rec = new Recorder(opts("trace") == "1", cores)
    val m = Manifest.read(opts("manifest"))
    val workload: Workload = m.str("workload") match {
      case "ann_pipeline" => new AnnPipeline(m, rec)
      case "point_query" => new PointQuery(m, rec)
    }
    var spark: SparkSession = null
    var error: String = null
    var rounds = 0
    try {
      for (_ <- 1 to opts("setup-reps").toInt) rec.group("setup") {
        if (spark != null) { release(spark); spark.stop() }
        spark = session(cores, opts("local-dir"))
        rec.attach(spark.sparkContext)
        spark.range(0, 1000000, 1, cores).selectExpr("sum(id)").collect()
        workload.setup(spark)
      }
      // untimed rounds first: they pay for code generation and JIT
      // compilation, which would otherwise land in the first timed rounds
      val warmups = m.int("warmup_rounds")
      for (i <- 0 until warmups) workload.round(spark, i, "warmup")
      val seconds = opts("seconds").toDouble
      val start = System.nanoTime()
      while (rounds < 3 || (System.nanoTime() - start) / 1e9 < seconds) {
        workload.round(spark, warmups + rounds, "round")
        rounds += 1
      }
      rec.group("verify")(workload.verify(spark))
      rec.drain()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        error = e.toString
    } finally {
      val result = rec.toJson ++ Map("rounds" -> rounds, "error" -> Option(error))
      new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(opts("out")), result)
      if (spark != null) spark.stop()
    }
    sys.exit(if (error == null) 0 else 1)
  }
}

/** The generator's manifest: sizes and parameters of one workload. */
final class Manifest(node: com.fasterxml.jackson.databind.JsonNode) {
  private def get(key: String) = Option(node.get(key)).getOrElse(
    throw new IllegalArgumentException(s"manifest has no '$key'"))
  def str(key: String): String = get(key).asText
  def int(key: String): Int = get(key).asInt
}

object Manifest {
  def read(path: String): Manifest = new Manifest(
    new ObjectMapper().readTree(new File(path)))
}

trait Workload {
  /** Set-up work that is repeated in every fresh session. */
  def setup(spark: SparkSession): Unit
  /** Round `index` (counted from 0 over warm-up and timed rounds), in a
    * group named `phase`.
    */
  def round(spark: SparkSession, index: Int, phase: String): Unit
  /** The checks of the timed rounds' outputs, once after the last round. */
  def verify(spark: SparkSession): Unit
}
