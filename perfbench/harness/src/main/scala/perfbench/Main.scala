package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload against the engine through its
  * public entry points and writes a raw record of every operation for
  * `perfbench/run.py` to check and summarise.
  *
  * {{{
  * java ... perfbench.Main --workload knn_batch --seed 1 --seconds 8 \
  *   --trace 0 --work <scratch dir> --data <tables dir> --out raw.json
  * }}} */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("data"), need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors
    Calib.probe() // JIT warm-up of the probe loop
    val calibStart = Calib.probe()
    val t0 = Recorder.nowMs
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = Recorder.nowMs - t0
    val rec = new Recorder(spark, a.trace)
    val result =
      try {
        val w: Workload = a.workload match {
          case "knn_batch" => new KnnBatch(spark, rec, a)
          case "oracle_queries" => new OracleQueries(spark, rec, a)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        w.run()
      } finally spark.stop()
    val calibEnd = Calib.probe()
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "env" -> Map("nproc" -> cpus, "java" -> System.getProperty("java.version"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "calib_start_s" -> calibStart, "calib_end_s" -> calibEnd,
        "session_ms" -> sessionMs,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0),
      "result" -> result) ++ rec.toJson
    Files.writeString(Paths.get(a.out),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
  }
}

/** The same single-thread `VectorKernels.rankingDistance` loop as the
  * engine's `Bench` calibration probe, on a vector of the harness's
  * own: a host-speed anchor recorded at the start and end of every
  * run. */
object Calib {
  private val v = {
    val rnd = new java.util.SplittableRandom(42L)
    Array.fill(Data.Dims)((rnd.nextDouble() * 2 - 1).toFloat)
  }

  def probe(): Double = {
    var acc = 0.0
    val t0 = System.nanoTime()
    var i = 0
    while (i < 500000) {
      acc += graft.expr.VectorKernels.rankingDistance(2, v, v)
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (acc == Double.MinValue) System.err.println("")
    s
  }
}
