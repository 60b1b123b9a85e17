package perfbench

import java.io.File
import java.util.SplittableRandom
import java.util.stream.IntStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.api.GraftDb

/** One benchmark workload. Set-up runs [[SetupReps]] times from scratch
  * and the run reports the median; the workload then uses the last
  * build. The measured window is a closed loop of one client that issues
  * each call after the previous one returned, until the calls themselves
  * (checks excluded) have taken the run's seconds. */
abstract class Workload(spark: SparkSession, rec: Recorder, a: Main.Args) {
  val SetupReps = 3
  protected val rnd = new SplittableRandom(a.seed)
  protected var db: GraftDb = _

  def run(): Map[String, Any]

  protected def dir(rel: String): String = new File(a.work, rel).getAbsolutePath

  /** Set up [[SetupReps]] times, each from a fresh facade and fresh
    * directories; before each repeat, the previous build's collections
    * and cached data are dropped. Returns each build's seconds. */
  protected def setupReps(build: Int => Unit): Seq[Double] =
    (1 to SetupReps).map { rep =>
      if (rep > 1) {
        db.listCollections().foreach(db.close)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
      db = new GraftDb(spark)
      val t0 = Recorder.nowMs
      build(rep)
      (Recorder.nowMs - t0) / 1000.0
    }

  /** Call `step` until the window's calls have taken `a.seconds`, and
    * at least `kinds` times (twice that in a traced run, where calls of
    * each kind alternate between traced and untraced). */
  protected def window(kinds: Int)(step: Int => Unit): Unit = {
    quiesce()
    val budget = a.seconds * 1000.0
    val minCalls = if (a.trace) 2 * kinds else kinds
    var i = 0
    def busy = rec.ops.iterator.filter(_.window).map(_.ms).sum
    while (busy < budget || i < minCalls) { step(i); i += 1 }
  }

  /** Wait, at most 5 s, until the JIT compiler has been idle for 250 ms.
    * The compiler threads share the cores with Spark's task threads, so
    * compilations still queued after the warm-up calls would otherwise
    * finish, sooner in one run and later in another, inside the window. */
  private def quiesce(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val until = Recorder.nowMs + 5000
    var last = -1L
    while (jit.getTotalCompilationTime != last && Recorder.nowMs < until) {
      last = jit.getTotalCompilationTime
      Thread.sleep(250)
    }
  }

  /** A set-up step, recorded (and traced) like a call but outside the
    * window; a failure aborts the run. */
  protected def step[T](kind: String)(body: Op => T): T = {
    var err: Throwable = null
    val r = rec.run("setup." + kind, window = false) { op =>
      try body(op) catch { case e: Throwable => err = e; throw e }
    }
    r.getOrElse(throw new IllegalStateException(s"setup step $kind failed", err))
  }

  /** Driver heap live after a full collection, and the block manager's
    * cached bytes; taken after the window. The heap figure is what the
    * collector itself reports as in use right after the collection, so
    * allocations after it do not count. Collections repeat until that
    * figure settles: Spark's cleaner drops the blocks of frames a
    * collection found unreachable on its own thread, after the
    * collection. */
  protected def memory(): Map[String, Any] = {
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    def liveMb() = {
      System.gc()
      pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    var prev = liveMb()
    var live = prev
    var rounds = 1
    do {
      prev = live
      Thread.sleep(300)
      live = liveMb()
      rounds += 1
    } while (math.abs(live - prev) > 0.5 && rounds < 8)
    Map("heap_mb" -> live, "heap_rounds" -> rounds,
      "cached_mb" -> spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
  }
}

/** Offline batch kNN: `searchMany` with 64 queries and limit 10,
  * alternating between an in-memory flat collection and an at-rest
  * `hnsw` layout of the first rows. Nothing writes; the vector kernels,
  * batch top-k and the `search`/`index` read paths do the work. */
final class KnnBatch(spark: SparkSession, rec: Recorder, a: Main.Args)
    extends Workload(spark, rec, a) {
  val Rows = 20000
  val HnswRows = 2000
  val Nq = 64
  val K = 10
  val Batches = 4
  val Collections = Seq("flat", "hnsw")
  /** The rows come from this fixed seed and only the queries from the
    * run's seed: search cost differs by up to 1.5x from one generated
    * corpus to another, which would swamp the run-to-run bounds. */
  val CorpusSeed = 7L
  /** Calls per collection after set-up and before the window, on top of
    * the one each set-up makes: the `hnsw` calls were still getting
    * faster, by JIT compilation, up to about the eighth call. */
  val WarmCalls = 6

  def run(): Map[String, Any] = {
    val cents = Data.centres(CorpusSeed)
    // query batches: each query is near a stored row of its collection
    def batch(n: Int) = Seq.fill(Nq) {
      Data.queryNear(Data.rows(CorpusSeed, cents, rnd.nextInt(n), 1)(0), rnd)
    }
    val queries = Map("flat" -> Seq.fill(Batches)(batch(Rows)),
      "hnsw" -> Seq.fill(Batches)(batch(HnswRows)))
    val frames = queries.map { case (c, qs) => c -> qs.map(queriesFrame) }

    def call(c: String, b: Int, window: Boolean): Unit =
      rec.run(c, window) { op =>
        val df = op.phase("build")(db.searchMany(c, frames(c)(b), K, knownNq = Nq))
        val rows = op.phase("exec")(df.collect())
        val got = rows.groupBy(_.getAs[String]("qid")).map { case (q, rs) =>
          q -> rs.sortBy(r => (r.getAs[Double]("distance"), r.getAs[String]("id")))
            .map(_.getAs[String]("id")).toSeq
        }
        op.info("batch") = b
        op.info("ids") = (0 until Nq).map(i => got.getOrElse(f"q$i%03d", Seq.empty))
      }

    var rows: Array[Array[Float]] = null
    // set-up ends when every collection has answered once: an opened
    // hnsw layout rebuilds its graphs on the first search
    val setup = setupReps(rep => {
      val base = dir(s"knn$rep")
      rows = step("generate")(_ => generate(cents, Rows))
      step("ingest") { _ =>
        // persist an empty collection, open it and append the rows
        // (generated on the executors from the same seed): the facade's
        // path for loading a large collection
        db.createCollection("flat", Data.Dims)
        db.persistIndex("flat", s"$base/flat")
        db.close("flat")
        db.openIndexed("flat", s"$base/flat")
        db.appendIndexed("flat", rowsFrame(cents, Rows))
      }
      step("cache_flat")(_ => db.all("flat").persist().count())
      step("persist_hnsw") { op =>
        // a collection this small goes in through the in-memory batch
        // insert, as a user would load it
        val d = db
        d.createCollection("hnsw_src", Data.Dims, index = "hnsw")
        d.batch("hnsw_src", (0 until HnswRows).map(i =>
          d.EmbeddingInput(Data.rowId(i), vector = rows(i))))
        db.persistIndex("hnsw_src", s"$base/hnsw")
        db.close("hnsw_src")
        val files = java.nio.file.Files.walk(new File(s"$base/hnsw").toPath).iterator
          .asScala.map(_.toFile).filter(_.isFile).toSeq
        op.info("rows") = HnswRows
        op.info("layout_bytes") = files.map(_.length).sum
        op.info("layout_files") = files.count(_.getName.endsWith(".parquet"))
      }
      step("open_hnsw")(_ => db.openIndexed("hnsw", s"$base/hnsw"))
      Collections.foreach(call(_, rep % Batches, window = false))
    })
    for (w <- 0 until WarmCalls; c <- Collections) call(c, w % Batches, window = false)
    window(Collections.length)(i =>
      call(Collections(i % Collections.length), (i / Collections.length) % Batches,
        window = true))
    // after the window: a full collection or the exact search's
    // allocations just before it slow the calls that follow
    val mem = memory()
    val answers = Map("flat" -> exactTopK(rows, Rows, queries("flat")),
      "hnsw" -> exactTopK(rows, HnswRows, queries("hnsw")))
    Map("setup_s" -> setup, "memory" -> mem, "k" -> K, "nq" -> Nq,
      "dims" -> Data.Dims,
      "weights" -> Collections.map(_ -> 1.0 / Collections.length).toMap,
      "exact_kinds" -> Seq("flat"), "ann_kinds" -> Seq("hnsw"),
      "truth" -> answers)
  }

  /** Rows 0 until n of the seed, generated in parallel. */
  private def generate(cents: Array[Array[Float]], n: Int): Array[Array[Float]] = {
    val chunk = 4096
    val parts = new Array[Array[Array[Float]]]((n + chunk - 1) / chunk)
    IntStream.range(0, parts.length).parallel().forEach(p =>
      parts(p) = Data.rows(CorpusSeed, cents, p.toLong * chunk, math.min(chunk, n - p * chunk)))
    parts.flatten
  }

  /** Rows 0 until n as a frame, computed on the executors from (seed,
    * row number): the same values [[generate]] gives the driver. */
  private def rowsFrame(cents: Array[Array[Float]], n: Int): DataFrame = {
    val seed = CorpusSeed
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("vector", ArrayType(FloatType, containsNull = false))))
    val rdd = spark.sparkContext.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .map(i => Row(Data.rowId(i), Data.rows(seed, cents, i, 1)(0).toSeq))
    spark.createDataFrame(rdd, schema)
  }

  private def queriesFrame(qs: Seq[Array[Float]]): DataFrame = {
    val schema = StructType(Seq(StructField("qid", StringType),
      StructField("qvector", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(java.util.Arrays.asList(qs.zipWithIndex.map { case (q, i) =>
      Row(f"q$i%03d", q.toSeq) }: _*), schema)
  }

  /** Exact top-k over the first `n` rows for each query of each batch,
    * in parallel over the queries. */
  private def exactTopK(rows: Array[Array[Float]], n: Int,
      batches: Seq[Seq[Array[Float]]]): Seq[Seq[Seq[String]]] = {
    val exact = new Exact((0 until n).map(i => Data.rowId(i)), rows.take(n).toIndexedSeq)
    batches.map { qs =>
      val out = new Array[Seq[String]](qs.length)
      IntStream.range(0, qs.length).parallel().forEach(i => out(i) = exact.topK(qs(i), K))
      out.toSeq
    }
  }
}

/** A fixed panel of the engine's oracle queries (`SparkEntry.queries`)
  * over the stored test tables. In the window each query is built and
  * then fully materialised through Spark's no-op sink, so column pruning
  * cannot skip projected work. Scheduling, eager jobs fired while a
  * query is built, and the pipeline modules do the work. */
final class OracleQueries(spark: SparkSession, rec: Recorder, a: Main.Args)
    extends Workload(spark, rec, a) {
  /** One query per pipeline family (text, dedup, data, pipeline,
    * events, graph, and multimodal for the rest), a warm pass taking
    * about five seconds on four cores. The vector families are left to
    * `knn_batch`. `pipeline_curation` spends most of its time in jobs
    * fired while the query is built. */
  val Panel = Seq("text_gopher_quality", "dedup_exact", "data_split",
    "pipeline_curation", "events_sessionize", "graph_degrees_knn",
    "mm_decode_meta")

  def run(): Map[String, Any] = {
    val fns = graft.SparkEntry.queries
    // set-up warms every query with one pass that writes each full
    // output as parquet; the last pass's files are what the oracle
    // comparison reads
    var out = ""
    val setup = setupReps(rep => {
      out = dir(s"oracle_out$rep")
      Panel.foreach(name => step(name) { op =>
        val df = op.phase("build")(fns(name)(spark, a.data))
        op.phase("exec")(df.coalesce(1).write.parquet(s"$out/$name"))
      })
    })
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(a.seed))
      .shuffle(Panel)
    window(Panel.length)(i => rec.run(order(i % order.length)) { op =>
      val df = op.phase("build")(fns(op.kind)(spark, a.data))
      op.phase("exec")(df.write.format("noop").mode("overwrite").save())
    })
    val mem = memory()
    Map("setup_s" -> setup, "memory" -> mem,
      "weights" -> Panel.map(_ -> 1.0 / Panel.length).toMap,
      "outputs" -> out,
      "oracle_sql" -> Panel.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
  }
}
