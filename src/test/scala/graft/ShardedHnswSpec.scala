package graft

import org.apache.spark.sql.functions._

import graft.core.CollectionConfig
import graft.index.{Hnsw, ShardedHnsw}
import graft.search.Search

/** Distributed (sharded) HNSW batch search. */
class ShardedHnswSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 16

  private def synth(seed: Long): Array[Float] = {
    var x = seed * 0x9e3779b97f4a7c15L + 1L
    Array.tabulate(dims) { _ =>
      x = x * 6364136223846793005L + 1442695040888963407L
      (((x >>> 40) & 0x3ff).toInt / 512.0f) - 1.0f
    }
  }

  // 40 topics x 10 graded members (member 0 == the topic base)
  private def clusteredRows = for (t <- 0 until 40; j <- 0 until 10) yield {
    val base = synth(500L + t)
    val own = synth(50000L + t * 100L + j)
    (s"t${t}_m$j",
      Array.tabulate(dims)(i => (1f - 0.05f * j) * base(i) + 0.05f * j * own(i)))
  }

  test("shards=1 is bit-identical to the driver shim's graph") {
    val config = CollectionConfig("sh1", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config).persist()
    val qs = (0 until 3).map(k => (s"q$k", synth(-700L - k)))
    val queries = qs.map { case (qid, v) => (qid, v.toSeq) }.toDF("qid", "qvector")
    val batch = ShardedHnsw.searchMany(coll, config, queries, 5, shards = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2))
    val shim = Hnsw.build(coll, config)
    val single = qs.flatMap { case (qid, v) =>
      shim.search(Search.prepareQuery(config, v), 5).map { case (id, raw) =>
        val (score, _) = graft.core.ScoreMode.resultValues(config.metric, raw, config.score)
        (qid, id, score)
      }
    }.sortBy(t => (t._1, t._3, t._2))
    assert(batch.toSeq === single)
    coll.unpersist()
  }

  test("multi-shard: planted hits found, deterministic across runs, cache key reuse") {
    val config = CollectionConfig("shn", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config).persist()
    // each query sits on a topic base -> t<k>_m0 is the planted top-1
    val queries = (0 until 4).map { k =>
      val base = synth(500L + 3 * k)
      val noise = synth(-900L - k)
      (s"q$k", Array.tabulate(dims)(i => base(i) + 0.004f * noise(i)).toSeq)
    }.toDF("qid", "qvector")
    def run() = ShardedHnsw.searchMany(coll, config, queries, 5,
      shards = 4, cacheKey = "shn_spec")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val first = run()
    (0 until 4).foreach { k =>
      val top = first.filter(_._1 == s"q$k").map(_._2)
      assert(top.contains(s"t${3 * k}_m0"), s"q$k missed planted hit: $top")
    }
    // second call serves from the executor graph cache — same results
    assert(run() === first)
    ShardedHnsw.clearCache("shn_spec")
    coll.unpersist()
  }

  test("facade hnsw batch routes through shards and finds the planted hit; CRUD mutation re-shards") {
    val db = new graft.api.GraftDb(spark)
    db.createCollection("shdb", dims, index = "hnsw")
    db.batch("shdb", clusteredRows.map { case (id, v) =>
      db.EmbeddingInput(id = id, vector = v) })
    val base = synth(500L + 7)
    val q = Array.tabulate(dims)(i => base(i) + 0.004f * synth(-77L)(i))
    // DOUBLE-typed query vectors: the facade casts to array<float> like
    // every other index family's batch path
    val queries = Seq(("q0", q.map(_.toDouble).toSeq)).toDF("qid", "qvector")
    val batchTop = db.searchMany("shdb", queries, 1)
      .collect().map(_.getAs[String]("id")).toSeq
    assert(batchTop === Seq("t7_m0"))
    val singleTop = db.search("shdb", q, 1).collect().map(_.getString(0)).toSeq
    assert(batchTop === singleTop, "sharded batch and driver-shim single disagree on the planted hit")
    // delete the hit: the new registry frame must re-shard (stale cached
    // graphs would still return the deleted id)
    db.delete("shdb", "t7_m0")
    val after = db.searchMany("shdb", queries, 1)
      .collect().map(_.getAs[String]("id")).toSeq
    assert(after.nonEmpty && after.head != "t7_m0", s"deleted id served from stale shard cache: $after")
  }

  test("fromState round-trips a graph with deletes bit-exactly") {
    val config = CollectionConfig("rt", dims)
    val g = new Hnsw(config.metric, Hnsw.Params())
    val rows = clusteredRows.take(120).map { case (id, v) =>
      (id, Search.prepareQuery(config, v))
    }.sortBy(_._1)
    g.insertMany(rows)
    // deletes leave free-list gaps + force entry re-election paths
    g.delete("t0_m0"); g.delete("t3_m5"); g.delete("t9_m9")
    val loaded = Hnsw.fromState(config.metric, Hnsw.Params(), g.exportState())
    assert(loaded.size === g.size)
    val q = Search.prepareQuery(config, synth(-55L))
    assert(loaded.search(q, 10) === g.search(q, 10))
    // the round-tripped graph keeps evolving identically: same insert
    // lands on the same internal slot and produces the same results
    val extra = ("zz_new", Search.prepareQuery(config, synth(-56L)))
    g.insert(extra._1, extra._2)
    loaded.insert(extra._1, extra._2)
    assert(loaded.search(q, 10) === g.search(q, 10))
  }

  test("persisted layout: open serves bit-identically to the build path, cold and cached") {
    val config = CollectionConfig("shp", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config).persist()
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_layout").toString
    val queries = (0 until 3).map { k =>
      val base = synth(500L + 5 * k)
      (s"q$k", Array.tabulate(dims)(i => base(i) + 0.004f * synth(-800L - k)(i)).toSeq)
    }.toDF("qid", "qvector")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._3, t._2)).toSeq
    val built = rows(ShardedHnsw.searchMany(coll, config, queries, 5, shards = 4))
    ShardedHnsw.writeLayout(coll, config, dir, shards = 4)
    // cold: graphs reconstruct from adjacency (cacheKey empty)
    val cold = rows(ShardedHnsw.searchManyPersisted(spark, dir, config, queries, 5))
    assert(cold === built)
    // cached: first call fills the executor cache, second serves from it
    val c1 = rows(ShardedHnsw.searchManyPersisted(spark, dir, config, queries, 5,
      cacheKey = dir))
    val c2 = rows(ShardedHnsw.searchManyPersisted(spark, dir, config, queries, 5,
      cacheKey = dir))
    assert(c1 === built && c2 === built)
    ShardedHnsw.clearCache(dir)
    // canonical columns survive in the state rows (CRUD reads them back)
    val state = spark.read.parquet(dir)
    assert(Seq("id", "vector", "internal_id", "layer", "connections", "is_entry")
      .forall(state.columns.contains))
    coll.unpersist()
  }

  test("persisted serving plan: map-side rank cut, persisted state never re-shuffles") {
    val config = CollectionConfig("shplan", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_plan").toString
    ShardedHnsw.writeLayout(coll, config, dir, shards = 4)
    val state = ShardedHnsw.layoutState(spark, dir).persist()
    state.count()
    val queries = Seq(("q0", synth(-5L).toSeq)).toDF("qid", "qvector")
    val df = ShardedHnsw.searchManyPersisted(spark, dir, config, queries, 5,
      cacheKey = dir, state = Some(state))
    val plan = df.queryExecution.executedPlan.toString
    // per-shard top-k lists are cut BEFORE the merge exchange
    assert(plan.contains("WindowGroupLimit"), s"no map-side rank cut:\n$plan")
    // the co-partitioned persisted state serves from cached blocks; the
    // ONLY exchange is the bounded shards*nq*limit merge
    assert(plan.contains("InMemoryTableScan"), s"state not served from cache:\n$plan")
    // count exchanges in the EXECUTING portion (above the cache scan —
    // InMemoryRelation also prints the one-time repartition that built
    // the cached blocks, which does not run per call)
    val executing = plan.substring(0, plan.indexOf("InMemoryTableScan"))
    assert("Exchange hashpartitioning".r.findAllIn(executing).size === 1,
      s"persisted state re-shuffled:\n$plan")
    state.unpersist(blocking = true)
    ShardedHnsw.clearCache(dir)
  }

  test("two GraftDb handles with the same collection name never share shard graphs") {
    def fill(db: graft.api.GraftDb, rows: Seq[(String, Array[Float])]): Unit = {
      db.createCollection("twin", dims, index = "hnsw")
      db.batch("twin", rows.map { case (id, v) => db.EmbeddingInput(id = id, vector = v) })
    }
    val base2 = synth(500L + 2)
    val queries = Seq(("q0",
      Array.tabulate(dims)(i => base2(i) + 0.004f * synth(-22L)(i)).toSeq))
      .toDF("qid", "qvector")
    val dbA = new graft.api.GraftDb(spark)
    fill(dbA, clusteredRows.take(100)) // topics 0..9
    assert(dbA.searchMany("twin", queries, 1)
      .collect().head.getAs[String]("id") === "t2_m0") // caches A's graphs
    val dbB = new graft.api.GraftDb(spark)
    fill(dbB, clusteredRows.slice(100, 200)) // topics 10..19 only
    val topB = dbB.searchMany("twin", queries, 1)
      .collect().head.getAs[String]("id")
    assert(!topB.matches("t[0-9]_m.*"),
      s"handle B served handle A's cached shard graphs: $topB")
  }

  test("re-persisting different data to the same path invalidates cached graphs") {
    val config = CollectionConfig("shrp", dims)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_repersist").toString
    val rowsA = clusteredRows.take(100)  // topics 0..9
    val collA = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(rowsA), config)
    ShardedHnsw.writeLayout(collA, config, dir, shards = 2)
    val base2 = synth(500L + 2)
    val queries = Seq(("q0",
      Array.tabulate(dims)(i => base2(i) + 0.004f * synth(-22L)(i)).toSeq))
      .toDF("qid", "qvector")
    def top1() = ShardedHnsw.searchManyPersisted(spark, dir, config,
      queries, 1, cacheKey = dir).collect().head.getString(1)
    assert(top1() === "t2_m0") // fills the path-keyed cache
    // overwrite the layout with topics 10..19 only: the cached graphs
    // are stale and MUST be dropped by the rewrite
    val collB = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows.slice(100, 200)), config)
    ShardedHnsw.writeLayout(collB, config, dir, shards = 2)
    val after = top1()
    assert(!after.matches("t[0-9]_m.*"),
      s"stale cached graph served a deleted id: $after")
    ShardedHnsw.clearCache(dir)
  }

  test("same cacheKey at a different shard count is a cache miss, not a poisoned merge") {
    val config = CollectionConfig("shkey", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config).persist()
    val queries = (0 until 3).map { k =>
      val base = synth(500L + 7 * k)
      (s"q$k", Array.tabulate(dims)(i => base(i) + 0.004f * synth(-300L - k)(i)).toSeq)
    }.toDF("qid", "qvector")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._3, t._2)).toSeq
    // fill the cache under a 2-shard partitioning...
    ShardedHnsw.searchMany(coll, config, queries, 5, shards = 2,
      cacheKey = "shkey-fixed").collect()
    // ...then the SAME key at 4 shards (dynamic allocation moving
    // defaultParallelism has exactly this shape): graphs from the old
    // partitioning hold different id sets, so reuse would duplicate
    // and/or drop ids in the merged top-k
    val reKeyed = rows(ShardedHnsw.searchMany(coll, config, queries, 5,
      shards = 4, cacheKey = "shkey-fixed"))
    val fresh = rows(ShardedHnsw.searchMany(coll, config, queries, 5, shards = 4))
    assert(reKeyed === fresh)
    assert(reKeyed.groupBy(t => (t._1, t._2)).forall(_._2.size == 1),
      s"duplicate ids in merged top-k: $reKeyed")
    ShardedHnsw.clearCache("shkey-fixed")
    coll.unpersist()
  }

  test("caller-supplied state that is not co-partitioned fails loudly, never caches partial graphs") {
    val config = CollectionConfig("shbad", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_badstate").toString
    ShardedHnsw.writeLayout(coll, config, dir, shards = 2)
    val queries = Seq(("q0", synth(-5L).toSeq)).toDF("qid", "qvector")
    // round-robin repartition splits shards across tasks — the contract
    // violation the validation must catch (partial graphs cached under
    // (key, shard) would silently poison every later call)
    val bad = spark.read.parquet(dir).repartition(6)
    val e = intercept[Exception] {
      ShardedHnsw.searchManyPersisted(spark, dir, config, queries, 3,
        cacheKey = dir, state = Some(bad)).collect()
    }
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: causes(x.getCause))
    assert(causes(e).exists(m => m != null && m.contains("co-partition")),
      s"expected a co-partition contract error, got: $e")
    // a CORRECTLY prepared frame still serves, and matches the cold path
    val good = ShardedHnsw.layoutState(spark, dir)
    val served = ShardedHnsw.searchManyPersisted(spark, dir, config, queries, 3,
      cacheKey = dir, state = Some(good)).collect().map(_.getString(1)).toSeq
    val cold = ShardedHnsw.searchManyPersisted(spark, dir, config, queries, 3)
      .collect().map(_.getString(1)).toSeq
    assert(served === cold)
    ShardedHnsw.clearCache(dir)
  }

  test("cached graphs above the node budget evict least-recently-used entries") {
    ShardedHnsw.clearCache("") // start from an empty JVM cache
    val config = CollectionConfig("shlru", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config).persist() // 400 rows
    val queries = Seq(("q0", synth(-5L).toSeq)).toDF("qid", "qvector")
    // budget holds ONE 400-node generation (2 shards x 200) but not two
    spark.conf.set("spark.graft.hnsw.cacheMaxNodes", "500")
    try {
      ShardedHnsw.searchMany(coll, config, queries, 3, shards = 2,
        cacheKey = "lru-gen-a").collect()
      assert(ShardedHnsw.cachedNodeCount === 400L)
      ShardedHnsw.searchMany(coll, config, queries, 3, shards = 2,
        cacheKey = "lru-gen-b").collect()
      // gen-a (least recently used) was evicted to fit gen-b
      assert(ShardedHnsw.cachedNodeCount <= 500L,
        s"cache exceeded the node budget: ${ShardedHnsw.cachedNodeCount}")
      // eviction never breaks correctness — evicted generations rebuild
      val again = ShardedHnsw.searchMany(coll, config, queries, 3, shards = 2,
        cacheKey = "lru-gen-a").collect().map(_.getString(1)).toSeq
      val keyless = ShardedHnsw.searchMany(coll, config, queries, 3, shards = 2)
        .collect().map(_.getString(1)).toSeq
      assert(again === keyless)
    } finally {
      spark.conf.unset("spark.graft.hnsw.cacheMaxNodes")
      ShardedHnsw.clearCache("lru-gen-")
    }
    coll.unpersist()
  }

  test("appendLayout rotates the version past mid-rewrite readers; countsCache stays one entry per path") {
    val config = CollectionConfig("shapp", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_append").toString
    ShardedHnsw.writeLayout(coll, config, dir, shards = 2)
    val sidecar = graft.ann.ModelStore.sidecarOf(dir)
    val v0 = graft.ann.ModelStore.loadHnsw(spark, sidecar)._3
    val queries = Seq(("q0", synth(500L + 40).toSeq)).toDF("qid", "qvector")
    // validated (state-supplied) search fills the per-path counts cache
    val before = ShardedHnsw.countsCacheSize
    ShardedHnsw.searchManyPersisted(spark, dir, config, queries, 3,
      cacheKey = dir, state = Some(ShardedHnsw.layoutState(spark, dir))).collect()
    assert(ShardedHnsw.countsCacheSize === before + 1)
    // append a planted exact-hit row the original corpus lacks
    val added = graft.prepare.Prepare.prepareEmbeddings(
      embeddingRows(Seq(("t40_new", synth(500L + 40)))), config)
    ShardedHnsw.appendLayout(spark, dir, config, added)
    val v1 = graft.ann.ModelStore.loadHnsw(spark, sidecar)._3
    assert(v1 !== v0, "append must rotate the sidecar version")
    // a cached reader under the OLD version is superseded, not served
    // stale: the appended row is the query's nearest neighbor
    val top = ShardedHnsw.searchManyPersisted(spark, dir, config, queries, 3,
      cacheKey = dir, state = Some(ShardedHnsw.layoutState(spark, dir)))
      .collect().map(_.getString(1)).toSeq
    assert(top.head === "t40_new", s"appended row missing from cached serving: $top")
    // new generation SUPERSEDED the old counts entry — same size, and
    // another validated call on the same generation adds nothing
    assert(ShardedHnsw.countsCacheSize === before + 1)
    ShardedHnsw.searchManyPersisted(spark, dir, config, queries, 3,
      cacheKey = dir, state = Some(ShardedHnsw.layoutState(spark, dir))).collect()
    assert(ShardedHnsw.countsCacheSize === before + 1)
    ShardedHnsw.clearCache(dir)
  }

  test("node budget smaller than one generation counts same-prefix evictions") {
    ShardedHnsw.clearCache("")
    val config = CollectionConfig("shthrash", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config).persist() // 400 rows
    val queries = Seq(("q0", synth(-5L).toSeq)).toDF("qid", "qvector")
    // 2 shards x 200 nodes; a 250-node budget cannot hold both shards
    // of ONE generation — inserting shard B evicts sibling shard A
    spark.conf.set("spark.graft.hnsw.cacheMaxNodes", "250")
    try {
      val evictionsBefore = ShardedHnsw.samePrefixEvictions
      ShardedHnsw.searchMany(coll, config, queries, 3, shards = 2,
        cacheKey = "thrash-gen").collect()
      assert(ShardedHnsw.samePrefixEvictions > evictionsBefore,
        "sibling-shard eviction under a too-small budget must be counted")
      assert(ShardedHnsw.cachedNodeCount <= 250L)
    } finally {
      spark.conf.unset("spark.graft.hnsw.cacheMaxNodes")
      ShardedHnsw.clearCache("thrash-gen")
    }
    coll.unpersist()
  }

  test("single search above maxBuildRows falls back to sharded graphs instead of erroring") {
    val db = new graft.api.GraftDb(spark)
    db.createCollection("shcap", dims, index = "hnsw")
    db.batch("shcap", clusteredRows.map { case (id, v) =>
      db.EmbeddingInput(id = id, vector = v) })
    val base = synth(500L + 11)
    val q = Array.tabulate(dims)(i => base(i) + 0.004f * synth(-111L)(i))
    spark.conf.set("spark.graft.hnsw.maxBuildRows", "100") // corpus is 400
    try {
      val top = db.search("shcap", q, 3).collect()
      assert(top.map(_.getString(0)).head === "t11_m0",
        s"over-cap fallback missed the planted hit: ${top.map(_.getString(0)).toSeq}")
      // schema matches the shim path exactly
      assert(top.head.schema.fieldNames.toSeq === Seq("id", "score", "distance", "metric"))
      // under the default cap the driver shim still serves (cache was
      // never populated for this name — build must succeed now)
      spark.conf.unset("spark.graft.hnsw.maxBuildRows")
      val shimTop = db.search("shcap", q, 3).collect().map(_.getString(0)).toSeq
      assert(shimTop.head === "t11_m0")
    } finally spark.conf.unset("spark.graft.hnsw.maxBuildRows")
  }

  test("filtered search: post-filter semantics on build and persisted paths") {
    val config = CollectionConfig("shflt", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config).persist()
    val queries = (0 until 3).map { k =>
      val base = synth(500L + 5 * k)
      (s"q$k", Array.tabulate(dims)(i => base(i) + 0.004f * synth(-800L - k)(i)).toSeq)
    }.toDF("qid", "qvector")
    // keep only even topic members: odd members drop out of every
    // candidate pool while the planted m0 tops survive
    val pred = expr("cast(substring(id, length(id), 1) as int) % 2 = 0")
    // oversample covering each shard entirely (400 rows / 4 shards = 100
    // <= 5 * 100): per-shard beams are exhaustive, so the filtered
    // answer must EQUAL exact flat search over the pre-filtered frame
    val filtered = ShardedHnsw.searchMany(coll, config, queries, 5,
      shards = 4, filter = Some(pred), oversample = 100)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val exactPerQ = (0 until 3).flatMap { k =>
      val qv = queries.filter(col("qid") === s"q$k")
        .head().getSeq[Float](1).toArray
      Search.flatSearch(coll.filter(pred), config, qv, 5)
        .collect().map(r => (s"q$k", r.getString(0)))
    }.sorted
    assert(filtered === exactPerQ)
    filtered.foreach { case (_, id) =>
      assert(id.takeRight(1).toInt % 2 == 0, s"predicate violated by $id") }
    // persisted layout serves the same filtered answer
    val path = java.nio.file.Files.createTempDirectory("graft_hnsw_flt").toString
    ShardedHnsw.writeLayout(coll, config, path, shards = 4)
    val persisted = ShardedHnsw.searchManyPersisted(spark, path, config,
      queries, 5, cacheKey = path, filter = Some(pred), oversample = 100)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(persisted === filtered)
    ShardedHnsw.clearCache(path)
    coll.unpersist()
  }

  test("warm persisted serving: one shard per task, no layout read, only the merge shuffles; appends and clearCache stay correct") {
    val config = CollectionConfig("shwarm", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_warm").toString
    ShardedHnsw.writeLayout(coll, config, dir, shards = 4)
    val queries = (0 until 3).map { k =>
      val base = synth(500L + 5 * k)
      (s"q$k", Array.tabulate(dims)(i => base(i) + 0.004f * synth(-810L - k)(i)).toSeq)
    }.toDF("qid", "qvector")
    def search(qs: org.apache.spark.sql.DataFrame = queries) =
      ShardedHnsw.searchManyPersisted(spark, dir, config, qs, 5, cacheKey = dir)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._3, t._2)).toSeq
    // one shard per task: partition s holds exactly shard s
    val placement = ShardedHnsw.layoutState(spark, dir)
      .select(spark_partition_id(), col("hnsw_shard")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    assert(placement === (0 until 4).map(s => (s, s)))
    val (cold, coldStages, coldShuffles) = recordJobs(search())
    assert(coldStages.exists(_.startsWith("parquet at")), coldStages)
    assert(coldShuffles === 2, "cold call: the layout shuffle and the merge")
    val (warm, warmStages, warmShuffles) = recordJobs(search())
    assert(warm === cold)
    assert(!warmStages.exists(_.startsWith("parquet at")),
      s"warm call re-read the layout: $warmStages")
    assert(warmShuffles === 1, "warm call shuffles only the per-shard candidates")
    // an append rotates the layout version: the next call serves it
    val planted = synth(500L + 40)
    ShardedHnsw.appendLayout(spark, dir, config, graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(Seq(("t40_new", planted))), config))
    val q40 = Seq(("q40", planted.toSeq)).toDF("qid", "qvector")
    assert(search(q40).map(_._2).contains("t40_new"))
    // blocks dropped behind the cache's back are persisted again
    val before = search()
    spark.catalog.clearCache()
    assert(!graft.index.LayoutState.isCached(dir))
    assert(search() === before)
    assert(graft.index.LayoutState.isCached(dir))
    graft.index.LayoutState.release(dir)
    ShardedHnsw.clearCache(dir)
  }
}
