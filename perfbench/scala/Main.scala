package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{ScrubConfig, Transforms}
import graft.operators.{SliceResult, SliceRoot, Slicer}
import graft.plans.SchemaGraph
import graft.sources.{RestoreWriter, SliceWriter, SqlWriter}
import graft.streaming.StreamingOps
import graft.tools.{CuratePipeline, RestoreExecutor, SliceRestore}

/** One benchmark run in one JVM: set up Spark, run a workload against the
  * generated corpus for the requested seconds, and write the raw
  * observations (timings, counters, outputs to check) as JSON. The Python
  * runner derives the metrics and checks the outputs.
  *
  * Usage: graftbench.Main <workload> <corpusDir> <workDir> <seconds>
  *   <trace 0|1> <cores> <resultJson>
  */
object Main {
  val Pepper = "graft-bench"
  val Graph: SchemaGraph = SchemaGraph.tpch
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Every built-in transform, each on a column it can scrub. */
  val ScrubAll: String =
    """{"tables": {
      |  "customer": {"c_name": "given_name", "c_mktsegment": "surname", "c_acctbal": "null"},
      |  "supplier": {"s_name": "alphanum"},
      |  "part": {"p_name": "words", "p_brand": "alphanum_unique", "p_type": "replace"},
      |  "orders": {"o_orderpriority": "const", "o_orderstatus": "city", "o_orderdate": "date_year"},
      |  "lineitem": {"l_returnflag": "us_state", "l_linestatus": "geozip"},
      |  "nation": {"n_name": "address1"},
      |  "region": {"r_name": "address2"}}}""".stripMargin

  /** The fixture restores into Derby through DDL that DdlWriter derives
    * from the unscrubbed schemas, so its scrub keeps every column type:
    * `null` (string-typed) and `date_year` (date-typed) are left to bulk. */
  val ScrubTyped: String =
    """{"tables": {
      |  "customer": {"c_name": "given_name", "c_mktsegment": "surname"},
      |  "supplier": {"s_name": "alphanum"},
      |  "part": {"p_name": "words", "p_brand": "alphanum_unique", "p_type": "replace"},
      |  "orders": {"o_orderpriority": "const", "o_orderstatus": "city"},
      |  "lineitem": {"l_returnflag": "us_state", "l_linestatus": "geozip"},
      |  "nation": {"n_name": "address1"},
      |  "region": {"r_name": "address2"}}}""".stripMargin

  def scrubbedColumns(c: ScrubConfig): Map[String, Seq[String]] =
    c.tables.map { case (t, cols) => t -> cols.keys.toSeq.sorted }

  val derbyDialect: String => String = _.replace(" text", " VARCHAR(512)")
    .replace(" timestamptz", " TIMESTAMP")
    .replace(" DEFERRABLE INITIALLY IMMEDIATE", "")

  final class Run(val spark: SparkSession, val corpus: String, val work: String,
      val seconds: Double, val tracer: Tracer, val probe: SparkProbe,
      val cores: Int, val meta: com.fasterxml.jackson.databind.JsonNode) {
    val latencies = mutable.ArrayBuffer.empty[Double]
    val opBytes = mutable.ArrayBuffer.empty[Long] // output bytes per request or pass
    var items = 0L
    var itemSeconds = 0.0
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val obs = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    var ops = 0L
    var outputBytes = 0L
    var rowsOut = 0L // rows dumped by the timed items
    var warmSeconds = 0.0
    /** Time the untimed warm item; it is part of setup_s. */
    def warmItem(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body; warmSeconds = (System.nanoTime() - t0) / 1e9
    }
    def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what
    /** Times items 1, 2, …: the first always, another only if one more
      * first-item time still fits in the window, so the count of a run
      * does not flip on an item that ends near the deadline. */
    def timedItems(item: Int => Unit): Unit = {
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      var i = 1
      var first = 0.0
      while (i == 1 || elapsed + first <= seconds) {
        item(i)
        if (i == 1) first = elapsed
        i += 1
      }
    }
    /** Each table is resolved once per run (file listing, footer schema)
      * and reused, as a long-lived service holding its source tables would. */
    private val resolved = collection.concurrent.TrieMap.empty[String, DataFrame]
    def load(t: String): DataFrame =
      resolved.getOrElseUpdate(t, graft.Tables.load(spark, corpus, t))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamProbe].getName)
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** graft.Bench's fixed CPU-calibration probe (512k codegen md5s). */
  def calibCpu(spark: SparkSession, probe: SparkProbe, cores: Int): Double = {
    org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    val c0 = probe.total.cpuNs
    spark.range(0, 1L << 19, 1, cores)
      .select(md5(concat(col("id").cast("string"), lit("calib"))).as("h"))
      .agg(count(when(substring(col("h"), 1, 1) === "0", 1))).collect()
    org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    (probe.total.cpuNs - c0) / 1e9
  }

  /** Progress line in the run's log (stderr). */
  def log(msg: String): Unit = System.err.println(s"[graftbench] ${java.time.Instant.now()} $msg")

  def dirBytes(p: String): (Long, Long) = {
    val root = Paths.get(p)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
        .toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }
  }

  // ---------------------------------------------------------------- slices

  /** The dumps both slice workloads write, each in its span. */
  def dump(r: Run, res: SliceResult, dir: String, scrub: ScrubConfig): Unit = {
    r.tracer.span("sources.slice_write") { SliceWriter.write(res, dir, scrub.apply) }
    r.tracer.span("sources.sql_write") { SqlWriter.write(res, dir, scrub.apply) }
    r.tracer.span("sources.restore_script") {
      val seqs = res.sequences.collect().collect {
        case row if !row.isNullAt(1) => row.getString(0) -> row.getLong(1)
      }.toMap
      RestoreWriter.write(Graph, dir, seqs, s"$dir/restore.sql", res.keys.keySet)
    }
    r.tracer.span("sources.schema") { SliceWriter.writeSchema(res, Graph, dir) }
  }

  /** `SliceRestore.validate` and `validateRefs` on a dump, with their
    * checks (manifest = data, no orphans); returns (seconds, per-table
    * (table, manifest, data) counts, orphans). */
  def validateDump(r: Run, label: String, dir: String): (Double, Seq[(String, Long, Long)], Long) = {
    val t0 = System.nanoTime()
    val (counts, refs) = r.tracer.span("tools.restore.validate") {
      (SliceRestore.validate(r.spark, dir), SliceRestore.validateRefs(r.spark, Graph, dir))
    }
    val s = (System.nanoTime() - t0) / 1e9
    counts.foreach { case (t, m, d) => r.check(m == d, s"$label: $t manifest $m, data $d") }
    refs.foreach { case (ref, n) => r.check(n == 0, s"$label: $n orphans on $ref") }
    (s, counts, refs.map(_._2).sum)
  }

  /** What the scrub expressions cost, outside any timed item: a scrubbed
    * minus an unscrubbed `noop` write of each sliced table (the writers
    * fuse scrub into their own code, so their spans cannot show it), and
    * how many cells were scrubbed. Returns (seconds, cells). */
  def scrubCost(r: Run, res: SliceResult, scrub: ScrubConfig,
      rows: Map[String, Long]): (Double, Long) = {
    def noop(df: DataFrame): Double = {
      val s = System.nanoTime(); df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - s) / 1e9
    }
    r.probe.recording = false
    val cost = Tables.filter(res.keys.contains).map { t =>
      val raw = noop(res.rows(t))
      val scrubbed = r.tracer.span("functions.scrub") { noop(scrub(t, res.rows(t))) }
      (math.max(0.0, scrubbed - raw),
        rows.getOrElse(t, 0L) * scrub.tables.getOrElse(t, Map.empty).size)
    }
    org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(r.spark.sparkContext)
    r.probe.recording = true
    (cost.map(_._1).sum, cost.map(_._2).sum)
  }

  def sliceFixture(r: Run): Unit = {
    val spark = r.spark
    val scrub = ScrubConfig.fromJson(ScrubTyped)
    r.obs("scrubbed") = scrubbedColumns(scrub)
    val slicer = new Slicer(Graph, r.load)
    val roots = r.meta.get("fixture_roots").elements().asScala.toSeq
      .map(n => (n.get("custkey").asLong, n.get("whale").asBoolean))
    val jobs = math.min(4, r.cores)
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val applyS = mutable.ArrayBuffer.empty[Double]
    var rowsLoaded = 0L; var peakParallel = 0; var waitS = 0.0; var keys = 0L
    var validateS = 0.0; var orphans = 0L; var exprS = 0.0; var cells = 0L; var files = 0L
    val requests = mutable.ArrayBuffer.empty[Map[String, Any]]

    def request(i: Int, custkey: Long, timed: Boolean): Unit = {
      val dir = s"${r.work}/fixture/req-$i"
      val db = s"memory:fx$i"
      val url = s"jdbc:derby:$db;create=true"
      r.tracer.req = i
      val t0 = System.nanoTime()
      val (ls, a0, res) = r.tracer.span("request") {
        val res = r.tracer.span("operators.slicer.run") {
          slicer.run(Seq(SliceRoot("customer", s"c_custkey = $custkey")))
        }
        dump(r, res, dir, scrub)
        val a0 = System.nanoTime()
        val loads = r.tracer.span("tools.restore.apply") {
          RestoreExecutor(spark, Graph, dir, url, props, jobs,
            includeSchema = true, ddlDialect = derbyDialect)
        }
        if (timed) applyS += (System.nanoTime() - a0) / 1e9
        (loads, a0, res)
      }
      val served = System.nanoTime() - t0
      // ---- outside the timed region: Derby row counts against the manifest
      val manifest = RestoreExecutor.readManifest(dir).map(m => m._1 -> m._2).toMap
      val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db")
      try {
        val st = conn.createStatement()
        manifest.foreach { case (t, n) =>
          val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t")
          rs.next()
          r.check(rs.getLong(1) == n, s"req $i: derby $t has ${rs.getLong(1)} rows, manifest $n")
        }
      } finally conn.close()
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$db;drop=true")
      catch { case _: java.sql.SQLException => () } // a successful drop reports 08006
      // traced runs also validate the dump and price its scrub; a request
      // does neither, so both stay out of its latency
      if (timed && r.tracer.enabled) {
        r.probe.recording = false
        val (vs, _, orph) = validateDump(r, s"req $i", dir)
        validateS += vs; orphans += orph
        val (e, c) = scrubCost(r, res, scrub, manifest)
        exprS += e; cells += c
      }
      // the request ends when it has released its cached slice
      val rel0 = System.nanoTime()
      graft.CacheBook.release(spark, "slice")
      val lat = (served + System.nanoTime() - rel0) / 1e9
      if (timed) {
        r.latencies += lat
        r.items += 1
        r.itemSeconds += lat
        val (bytes, f) = dirBytes(dir)
        r.outputBytes += bytes; r.opBytes += bytes; files += f
        r.rowsOut += manifest.values.sum
        rowsLoaded += ls.map(_.rows).sum
        keys += res.keyCounts.values.sum
        val ev = ls.flatMap(l => Seq((l.startNanos, 1), (l.endNanos, -1))).sortBy(e => (e._1, e._2))
        peakParallel = math.max(peakParallel, ev.scanLeft(0)(_ + _._2).max)
        val ends = ls.map(l => l.table -> l.endNanos).toMap
        waitS += ls.map { l =>
          val parents = Graph.references.filter(x => x.table == l.table && x.refTable != l.table)
            .flatMap(x => ends.get(x.refTable))
          val eligible = (a0 +: parents.filter(_ <= l.startNanos)).max
          (l.startNanos - eligible) / 1e9
        }.sum
        requests += Map("dir" -> dir, "custkey" -> custkey)
      }
    }

    // warm item: an ordinary customer the timed requests do not reach
    r.warmItem(request(0, roots.reverse.find(!_._2).get._1, timed = false))
    r.probe.recording = true
    // timed: whole (ordinary, whale) pairs, so every run has the same mix
    r.timedItems { p =>
      Seq(2 * p - 2, 2 * p - 1).foreach { j =>
        r.attempted += 1
        try request(j + 1, roots(j)._1, timed = true)
        catch { case e: Throwable => r.failures += s"request ${j + 1}: $e" }
      }
    }
    r.ops = r.items
    r.obs("requests") = requests.toSeq
    r.layers ++= Seq(
      "tools.restore.apply_s" -> applyS.sum,
      "tools.restore.rows_loaded" -> rowsLoaded.toDouble,
      "tools.restore.rows_per_s" -> (if (applyS.sum > 0) rowsLoaded / applyS.sum else 0.0),
      "tools.restore.peak_parallel" -> peakParallel.toDouble,
      "tools.restore.wait_s" -> waitS,
      "tools.restore.validate_s" -> validateS,
      "tools.restore.orphans" -> orphans.toDouble,
      "functions.scrub.expr_s" -> exprS,
      "functions.scrub.cells" -> cells.toDouble,
      "sources.output_files" -> files.toDouble,
      "operators.slicer.keys" -> keys.toDouble)
  }

  def sliceBulk(r: Run): Unit = {
    val spark = r.spark
    val scrub = ScrubConfig.fromJson(ScrubAll)
    r.obs("scrubbed") = scrubbedColumns(scrub)
    val slicer = new Slicer(Graph, r.load)
    val cond = r.meta.get("bulk").get("condition").asText()
    var validateS = 0.0; var orphans = 0L; var keys = 0L
    var exprS = 0.0; var cells = 0L; var files = 0L
    val passes = mutable.ArrayBuffer.empty[String]

    def pass(i: Int, timed: Boolean): Unit = {
      val dir = s"${r.work}/bulk/pass-$i"
      r.tracer.req = i
      val t0 = System.nanoTime()
      val (res, (vs, counts, orph)) = r.tracer.span("pass") {
        val res = r.tracer.span("operators.slicer.run") { slicer.run(Seq(SliceRoot("customer", cond))) }
        dump(r, res, dir, scrub)
        (res, validateDump(r, s"pass $i", dir))
      }
      val lat = (System.nanoTime() - t0) / 1e9
      if (timed) {
        r.latencies += lat
        r.items += counts.map(_._3).sum
        r.itemSeconds += lat
        val (b, f) = dirBytes(dir)
        r.outputBytes += b; r.opBytes += b; files += f
        r.rowsOut += counts.map(_._3).sum
        validateS += vs
        orphans += orph
        keys += res.keyCounts.values.sum
        passes += dir
        if (r.tracer.enabled) {
          val (e, c) = scrubCost(r, res, scrub, counts.map(c => c._1 -> c._3).toMap)
          exprS += e; cells += c
        }
      }
      graft.CacheBook.release(spark, "slice")
    }

    r.warmItem(pass(0, timed = false))
    r.probe.recording = true
    r.timedItems { i =>
      r.attempted += 1
      try pass(i, timed = true)
      catch { case e: Throwable => r.failures += s"pass $i: $e" }
    }
    r.ops = r.latencies.size
    r.obs("passes") = passes.toSeq
    r.layers ++= Seq(
      "tools.restore.validate_s" -> validateS,
      "tools.restore.orphans" -> orphans.toDouble,
      "operators.slicer.keys" -> keys.toDouble,
      "functions.scrub.expr_s" -> exprS,
      "functions.scrub.cells" -> cells.toDouble,
      "sources.output_files" -> files.toDouble)
  }

  // ----------------------------------------------------------------- curate

  def curateCorpus(r: Run): Unit = {
    val spark = r.spark
    val bench = r.load("documents").filter(col("doc_id") < 50)
    var curateS = 0.0; var shardsS = 0.0; var liveAfter = 0L
    var kept = 0.0; var near = 0.0
    val stageObs = mutable.ArrayBuffer.empty[Map[String, Long]]

    def pass(i: Int, timed: Boolean): Unit = {
      val dir = s"${r.work}/curate/pass-$i"
      r.tracer.req = i
      val t0 = System.nanoTime()
      val (curated, stages) = r.tracer.span("pass") {
        val c0 = System.nanoTime()
        val (curated, stages) = r.tracer.span("tools.curate.curate") {
          CuratePipeline.curate(spark, r.corpus, 0.3, benchDocs = Some(bench))
        }
        val c1 = System.nanoTime()
        val exported = r.tracer.span("tools.curate.export") { CuratePipeline.exportSet(curated) }
        r.tracer.span("sources.shards_write") { CuratePipeline.writeShards(exported, s"$dir/shards") }
        if (timed) { curateS += (c1 - c0) / 1e9; shardsS += (System.nanoTime() - c1) / 1e9 }
        (curated, stages)
      }
      val lat = (System.nanoTime() - t0) / 1e9
      // ---- outside the timed region: the token total the oracle also reports
      r.probe.recording = false
      val toks = curated.agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      r.probe.recording = timed
      graft.CacheBook.release(spark, "curate")
      graft.CacheBook.release(spark, "d")
      if (timed) {
        r.latencies += lat
        r.items += stages("input")
        r.itemSeconds += lat
        val bytes = dirBytes(s"$dir/shards")._1
        r.outputBytes += bytes; r.opBytes += bytes
        stageObs += (stages + ("total_tokens" -> toks))
        liveAfter = graft.CacheBook.liveScopes(spark).size.toLong +
          graft.CacheBook.liveNamed(spark).size
        kept = stages("after_span_strip").toDouble / stages("input")
        near = stages("after_near_dedup").toDouble / math.max(1L, stages("after_line_dedup"))
      }
    }

    // warm item: one untimed pass, so the timed passes meet compiled code
    // (a cold pass is dominated by class loading, codegen and JIT)
    r.warmItem(pass(0, timed = false))
    r.probe.recording = true
    r.timedItems { i =>
      r.attempted += 1
      try pass(i, timed = true)
      catch { case e: Throwable => r.failures += s"pass $i: $e" }
    }
    r.ops = r.latencies.size
    r.obs("stages") = stageObs.toSeq
    r.obs("oracle_sql") = graft.SparkEntry.oracleSql("pipeline_curate")
    r.layers ++= Seq(
      "tools.curate.curate_s" -> curateS,
      "sources.shards_write_s" -> shardsS,
      "tools.curate.kept_ratio" -> kept,
      "tools.curate.near_dedup_ratio" -> near,
      "cachebook.live_after" -> liveAfter.toDouble)
  }

  // ----------------------------------------------------------------- stream

  val WarmSeconds = 6.0 // offered load before the clock

  /** File number -> the source-log batch that first listed it, read from
    * a file-stream query's checkpoint (`sources/0/<n>` and compacted
    * `<n>.compact` entries). */
  def sourceLog(checkpoint: Path): Map[Int, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    val File = """.*"path":"[^"]*f(\d{5})\.parquet".*""".r
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala.toSeq.flatMap { f =>
      val n = f.getFileName.toString.stripSuffix(".compact")
      n.toLongOption.toSeq.flatMap(batch => Files.readAllLines(f).asScala.collect {
        case File(k) => k.toInt -> batch
      })
    }.groupBy(_._1).map { case (k, bs) => k -> bs.map(_._2).min }
  }

  def streamIngest(r: Run): Unit = {
    val spark = r.spark
    val rate = r.meta.get("stream_rate").asDouble
    val rows = r.meta.get("stream_rows").asLong
    val delay = r.meta.get("stream_delay").asText
    val src = Paths.get(r.corpus, "stream")
    val nFiles = Files.list(src).count().toInt
    val base = Paths.get(r.work, "stream")
    val landing = base.resolve("landing")
    val stage = base.resolve("stage")
    Files.createDirectories(landing); Files.createDirectories(stage)
    def drop(k: Int): Unit = {
      val name = f"f$k%05d.parquet"
      Files.copy(src.resolve(name), stage.resolve(name))
      Files.move(stage.resolve(name), landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      ()
    }
    val schema = spark.read.parquet(src.resolve("f00000.parquet").toString).schema
    def events = spark.readStream.schema(schema).parquet(landing.toString)
      .withColumn("ts", graft.Tables.normalizeEventTs(schema("ts").dataType))
    drop(0) // the queries start on file 0
    val dedupOut = base.resolve("dedup_out").toString
    val dedupCp = base.resolve("cp_dedup")
    val ingestCpRoot = base.resolve("cp_ingest")
    r.tracer.req = 0 // query start and the warm-up are the warm item
    val dedupQ = r.tracer.span("streaming.dedup") {
      StreamingOps.dedup(events, Seq("event_id"), "ts", delay)
        .writeStream.queryName("dedup").format("parquet")
        .option("path", dedupOut)
        .option("checkpointLocation", dedupCp.toString)
        .outputMode("append").start()
    }
    // StreamingOps.ingest sets no checkpoint location: give its session
    // clone a root, so the query's source log can be read afterwards
    spark.conf.set("spark.sql.streaming.checkpointLocation", ingestCpRoot.toString)
    val acc = new StreamingOps.IncAggState(Seq("user_id"), col("value"))
    val ingestQ = r.tracer.span("streaming.ingest") { StreamingOps.ingest(events, acc) }
    val queries = Seq(dedupQ, ingestQ)
    log("stream: queries started")
    // warm item (part of setup_s): the queries' first batch on file 0,
    // then the offered load for WarmSeconds, so the timed files meet the
    // batch rhythm of a running stream, not the first batches' JIT warm-up.
    // One drop schedule runs through both, so the clock starts mid-stream.
    val first = 1 + math.round(WarmSeconds * rate).toInt // the first timed file
    val planned = math.min(nFiles - first, math.max(1, math.round(r.seconds * rate).toInt))
    var start = 0L
    def due(k: Int): Long = start + ((k - 1) / rate * 1e9).toLong
    val late = mutable.ArrayBuffer.empty[Double]
    def offer(ks: Range): Unit = ks.foreach { k =>
      var now = System.nanoTime()
      while (now < due(k)) {
        Thread.sleep(math.min(5L, math.max(1L, (due(k) - now) / 1000000L)))
        now = System.nanoTime()
      }
      drop(k)
      late += (System.nanoTime() - due(k)) / 1e9
    }
    r.warmItem {
      queries.foreach(_.processAllAvailable())
      start = System.nanoTime()
      offer(1 until first)
    }
    late.clear()
    r.probe.recording = true
    val clock = System.nanoTime() // progress before the clock belongs to set-up
    r.tracer.req = 1
    r.tracer.span("streaming.window") {
      offer(first until first + planned)
      r.tracer.span("streaming.drain") { queries.foreach(_.processAllAvailable()) }
    }
    r.attempted = planned.toLong
    val end = System.nanoTime()
    queries.foreach(_.stop())
    r.probe.recording = false
    // a file is reflected by a query at the first progress event whose
    // source offset covers the log batch that listed it; its latency runs
    // from its scheduled drop to the later of the two queries
    def reflectedAt(q: org.apache.spark.sql.streaming.StreamingQuery, cp: Path): Map[Int, Long] = {
      val prog = StreamProbe.all.filter(_.query == q.id.toString)
      sourceLog(cp).flatMap { case (file, batch) =>
        prog.filter(_.endOffset >= batch).map(_.atNs).minOption.map(file -> _)
      }
    }
    val ingestCp = Files.list(ingestCpRoot).iterator().asScala.toSeq.headOption
    val rd = reflectedAt(dedupQ, dedupCp)
    val ri = ingestCp.map(reflectedAt(ingestQ, _)).getOrElse(Map.empty)
    val at = (first until first + planned).map { f =>
      val t = for (a <- rd.get(f); b <- ri.get(f)) yield math.max(a, b)
      if (t.isEmpty) r.failures += s"stream: file $f never reflected by both queries"
      t
    }
    at.zipWithIndex.foreach { case (t, i) => t.foreach(x => r.latencies += (x - due(first + i)) / 1e9) }
    // backlog seen at each timed drop: files dropped but not yet reflected by both
    val backlogMax = at.indices.map { i =>
      at.take(i + 1).count(t => t.forall(_ > due(first + i)))
    }.maxOption.getOrElse(0)
    r.items = planned * rows
    r.itemSeconds = (end - clock) / 1e9
    r.ops = planned.toLong
    r.outputBytes = dirBytes(dedupOut)._1
    r.opBytes += r.outputBytes / math.max(1, planned)
    // ---- outside the timed region: final state for the DuckDB comparison
    acc.current(spark, events.schema).write.parquet(base.resolve("agg_out").toString)
    acc.release()
    // one event per (query, batch): a query's progress can reach the
    // listeners of more than one session
    val timed = StreamProbe.all.filter(_.atNs >= clock).groupBy(p => (p.query, p.batchId))
      .values.map(_.minBy(_.atNs)).toSeq.sortBy(_.atNs)
    r.obs("stream") = Map("landing" -> landing.toString, "dedup_out" -> dedupOut,
      "agg_out" -> base.resolve("agg_out").toString, "files" -> (first + planned), "delay" -> delay)
    r.obs("batch_s") = timed.map(_.triggerMs / 1e3)
    val stateful = timed.filter(_.query == dedupQ.id.toString)
    r.layers ++= Seq(
      "streaming.batches" -> timed.size.toDouble,
      "streaming.state_commit_ms" ->
        (if (stateful.isEmpty) 0.0 else stateful.map(_.commitMs).sum.toDouble / stateful.size),
      "streaming.state_rows" -> stateful.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> stateful.lastOption.map(_.stateBytes / 1e6).getOrElse(0.0),
      "streaming.backlog_files_max" -> backlogMax.toDouble,
      "streaming.generator_late_s" -> (if (late.isEmpty) 0.0 else late.max))
  }

  // ------------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val entered = System.currentTimeMillis()
    val Array(workload, corpus, work, secondsS, traceS, coresS, resultPath) = args
    val trace = traceS == "1"
    val cores = coresS.toInt
    Transforms.setPepper(Pepper)
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(corpus, "meta.json")))
    // setup_s: session start here, plus each workload's warm item
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val probe = new SparkProbe
    spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(trace)
    val calib = if (trace) {
      val calibProbe = new SparkProbe
      calibProbe.recording = true
      spark.sparkContext.addSparkListener(calibProbe)
      calibCpu(spark, calibProbe, cores) // untimed: warms the probe's own plan
      try calibCpu(spark, calibProbe, cores)
      finally spark.sparkContext.removeSparkListener(calibProbe)
    } else 0.0
    val sampler = if (trace) Some(new Sampler(spark.sparkContext, 50)) else None
    val r = new Run(spark, corpus, work, secondsS.toDouble, tracer, probe, cores, meta)
    workload match {
      case "slice_fixture" => sliceFixture(r)
      case "slice_bulk"    => sliceBulk(r)
      case "curate_corpus" => curateCorpus(r)
      case "stream_ingest" => streamIngest(r)
      case other => sys.error(s"unknown workload $other")
    }
    org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    sampler.foreach(_.stop())
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "jvm_entered_ms" -> entered,
      "session_s" -> sessionS,
      "warm_s" -> r.warmSeconds,
      "latencies" -> r.latencies.toSeq,
      "items" -> r.items,
      "item_seconds" -> r.itemSeconds,
      "ops" -> r.ops,
      "attempted" -> r.attempted,
      "failures" -> r.failures.toSeq,
      "op_bytes" -> r.opBytes.toSeq,
      "peak_rss_mb" -> Probe.procStatusKb("VmHWM") / 1024.0,
      "block_store_max_mb" ->
        spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6,
      "obs" -> r.obs.toMap)
    if (trace) out("layers") = layerMetrics(r, calib, sampler.get)
    out("jobs_by_file") = probe.byFile.toSeq.sortBy(_._1).map { case (f, a) =>
      Map("file" -> f, "jobs" -> a.jobs, "busy_s" -> a.busySeconds, "cpu_s" -> a.cpuNs / 1e9) }
    if (trace) out("spans") = tracer.all.map(s => Seq(s.id, s.name, s.parent, s.req, s.startNs, s.endNs))
    if (trace) out("span_table") = tracer.byName.toSeq.sortBy(_._1).map { case (n, (c, t, s)) =>
      Map("name" -> n, "count" -> c, "total_s" -> t, "self_s" -> s) }
    Files.writeString(Paths.get(resultPath), Json.write(out.toMap))
    spark.stop()
  }

  def layerMetrics(r: Run, calib: Double, sampler: Sampler): Map[String, Double] = {
    val p = r.probe
    val ops = math.max(1L, r.ops).toDouble
    val slicer = p.file("Slicer.scala")
    val cc = p.file("ConnectedComponents.scala")
    val t = p.total
    val m = mutable.LinkedHashMap[String, Double](
      "operators.slicer.run_s" -> r.tracer.totalSeconds("operators.slicer.run") / ops,
      "operators.slicer.jobs" -> slicer.jobs / ops,
      "spark.scheduler_delay_s" -> t.schedDelayMs / 1e3 / ops,
      "operators.slicer.cpu_s" -> slicer.cpuNs / 1e9 / ops,
      "operators.slicer.shuffle_mb" -> (slicer.shuffleRead + slicer.shuffleWrite) / 1e6 / ops,
      "operators.slicer.records_read" -> slicer.recordsRead / ops,
      "operators.slicer.keys" -> r.layers.getOrElse("operators.slicer.keys", 0.0) / ops,
      "operators.slicer.keys_per_record_read" ->
        (if (slicer.recordsRead > 0) r.layers.getOrElse("operators.slicer.keys", 0.0) / slicer.recordsRead else 0.0),
      "sources.slice_write_s" -> r.tracer.totalSeconds("sources.slice_write") / ops,
      "sources.sql_write_s" -> r.tracer.totalSeconds("sources.sql_write") / ops,
      "sources.restore_script_s" -> r.tracer.totalSeconds("sources.restore_script") / ops,
      "sources.schema_s" -> r.tracer.totalSeconds("sources.schema") / ops,
      "sources.bytes_per_row" -> (if (r.rowsOut > 0) r.outputBytes.toDouble / r.rowsOut else 0.0),
      "operators.cc.jobs" -> cc.jobs / ops,
      "operators.cc.busy_s" -> cc.busySeconds / ops,
      "cachebook.storage_mb_peak" -> sampler.storagePeakBytes / 1e6,
      "spark.rdd_block_writes" -> t.rddWrites / ops,
      "spark.spill_mb" -> t.spill / 1e6 / ops,
      "spark.jobs" -> t.jobs / ops,
      "spark.stages" -> t.stages / ops,
      "spark.tasks" -> t.tasks / ops,
      "spark.executor_run_s" -> t.runMs / 1e3 / ops,
      "spark.executor_cpu_s" -> t.cpuNs / 1e9 / ops,
      "spark.busy_ratio" -> t.runMs / 1e3 / math.max(1e-9, r.itemSeconds * r.cores),
      "spark.shuffle_read_mb" -> t.shuffleRead / 1e6 / ops,
      "spark.shuffle_write_mb" -> t.shuffleWrite / 1e6 / ops,
      "spark.gc_s" -> t.gcMs / 1e3 / ops,
      "spark.failed_tasks" -> t.failedTasks.toDouble,
      "env.calib_cpu_s" -> calib,
      // what only a traced run does during the timed items: the tracer's
      // bookkeeping and the storage sampler's thread, per item second
      "trace.overhead_ratio" ->
        (r.tracer.overheadNs / 1e9 / math.max(1e-9, r.itemSeconds) + sampler.cpuShare))
    // functions (scrub) launches no jobs of its own: its expressions run
    // inside the writers' jobs, and functions.scrub.* prices them
    Seq("operators", "queries", "sources", "tools", "streaming").foreach { mod =>
      m(s"module.$mod.jobs") = p.module(mod).jobs / ops
      m(s"module.$mod.busy_s") = p.module(mod).busySeconds / ops
    }
    val perOp = Set("tools.restore.apply_s", "tools.restore.rows_loaded", "tools.restore.wait_s",
      "tools.restore.validate_s", "functions.scrub.expr_s", "functions.scrub.cells",
      "sources.output_files", "tools.curate.curate_s", "sources.shards_write_s")
    r.layers.foreach { case (k, v) =>
      if (k != "operators.slicer.keys") m(k) = if (perOp(k)) v / ops else v
    }
    m.toMap
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] => m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }
      .mkString("{", ",", "}")
    case s: Seq[_] => s.map(write).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case other => quote(other.toString)
  }
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
