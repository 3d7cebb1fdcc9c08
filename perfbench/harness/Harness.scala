package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.{Bench, SparkEntry}
import graft.graph.{GraphCatalog, LinkGraph, PageRank, PageRankGraphX}
import graft.plans.{Lineage, LoopExec}
import graft.queries.GraphQueries
import graft.wiki.{RankSink, WikiIngest, WikiPipeline}

/** The benchmark's JVM side. `run.py` launches it once per mode:
  *
  *   setup    record=… cpus=… work=…             SparkSession start-up only
  *   tables   record=… cpus=… work=… data=… customers=… suppliers=… orders=…
  *                                                 start-up, then serve's tables
  *   snapshots record=… cpus=… work=… out=…        start-up, then the pipeline
  *                                                 units' snapshots/ as text
  *   pipeline record=… cpus=… work=… dump=… out=… seconds=… trace=0|1
  *   serve    record=… cpus=… work=… data=… seconds=… seed=… trace=0|1
  *   edges    cpus=… work=… dump=… out=…           ingest + red-link removal
  *   pin      cpus=… work=… data=… out=…           graph query results for
  *                                                 the DuckDB oracle check
  *
  * Every mode that measures writes one JSON record; `run.py` checks the
  * outputs and derives the metrics from it. */
object Harness {

  /** Later units per run at least: three, so the median sets aside the
    * first later unit, which still runs partly on cold JIT code. */
  val MinUnits = 3

  /** Traced runs interleave untraced and traced units in pairs whose
    * order flips (u t, t u), so the JIT warming between units does not
    * favour either side of the overhead comparison. */
  val MinTracedPairs = 2
  private def pairs[T](i: Int, untraced: => T, traced: => T): Seq[T] =
    if (i % 2 == 0) { val u = untraced; Seq(u, traced) }
    else { val t = traced; Seq(t, untraced) }

  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val o = args.drop(1).map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val spark = session(o("cpus"), o("work"))
    val ready = System.currentTimeMillis() / 1e3
    val load0 = Bench.loadavg()
    val body: Map[String, Any] = args(0) match {
      case "setup" => Map.empty
      case "tables" => tables(spark, o("data"), o("customers").toInt,
        o("suppliers").toInt, o("orders").toInt); Map.empty
      case "snapshots" => snapshotsAsText(spark, o("out")); Map.empty
      case "pipeline" => pipeline(spark, o("dump"), o("out"),
        o("seconds").toDouble, o("trace") == "1")
      case "serve" => serve(spark, o("data"), o("seconds").toDouble,
        o("seed").toLong, o("trace") == "1")
      case "edges" => edges(spark, o("dump"), o("out")); Map.empty
      case "pin" => pin(spark, o("data"), o("out")); Map.empty
    }
    o.get("record").foreach { path =>
      val host = Map("nproc" -> o("cpus").toInt,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "loadavg_start" -> load0, "loadavg_end" -> Bench.loadavg())
      Json.writeValue(Paths.get(path).toFile,
        body ++ Map("ready_epoch_s" -> ready, "host" -> host))
    }
    spark.stop()
  }

  /** The session `WikiPipeline.main` builds for `SPARK_GRAFT_CPUS=cpus`,
    * with the UI off and every scratch directory inside `work`. */
  def session(cpus: String, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-wiki-pagerank")
      .config("spark.sql.shuffle.partitions", cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .take(1).mkString.take(300)

  /** Runs units in a closed loop, one at a time: `first`, then `later(i)`
    * until the window is over and at least `min` rounds ran (or three
    * windows passed). A unit that throws ends the loop. */
  private def closedLoop(window: Double, min: Int, first: => Map[String, Any],
      later: Int => Seq[Map[String, Any]]): Seq[Map[String, Any]] = {
    val units = ArrayBuffer(first)
    val t0 = System.nanoTime()
    var i = 0
    def failed = units.exists(_.get("error").exists(_ != null))
    while (!failed &&
        ((i < min && seconds(t0) < 3 * window) || seconds(t0) < window)) {
      units ++= later(i)
      i += 1
    }
    units.toSeq
  }

  /** Times `body` as one unit with its Spark work attributed to `key`. */
  private def measured(spark: SparkSession, census: Census, key: String)
      (body: => Map[String, Any]): Map[String, Any] = {
    census.resetPeak()
    val t0 = System.nanoTime()
    val res = Try(Census.attributed(spark.sparkContext, key)(body))
    val wall = seconds(t0)
    val peak = census.peakBytes()
    Lineage.freeScratch(spark)
    val c = census.of(key)
    res.getOrElse(Map.empty) ++ Map("wall_s" -> wall,
      "error" -> res.failed.map(message).toOption.orNull,
      "jobs" -> c.jobs, "tasks" -> c.tasks, "failed_tasks" -> c.failedTasks,
      "shuffle_write_mb" -> c.shuffleWrite / 1e6,
      "peak_storage_mb" -> peak / 1e6)
  }

  // ------------------------------------------------------------------
  // Pipeline workloads: WikiPipeline.run from the dump on disk.

  def pipeline(spark: SparkSession, dump: String, out: String,
      window: Double, trace: Boolean): Map[String, Any] = {
    val census = new Census(spark.sparkContext)
    var seq = 0
    def plain(kind: String): Map[String, Any] = {
      val dir = s"$out/u$seq"; seq += 1
      Map("kind" -> kind, "out" -> dir) ++ measured(spark, census, dir) {
        Map("n" -> WikiPipeline.run(spark, dump, dir))
      }
    }
    def traced(): Map[String, Any] = {
      val dir = s"$out/u$seq"; seq += 1
      val tr = new Tracer(spark.sparkContext, census, dir)
      val t0 = System.nanoTime()
      val res = Try(tracedPipeline(spark, dump, dir, tr))
      val wall = seconds(t0)
      Lineage.freeScratch(spark)
      res.getOrElse(Map.empty) ++ Map("kind" -> "traced", "out" -> dir,
        "wall_s" -> wall, "error" -> res.failed.map(message).toOption.orNull,
        "spans" -> tr.records(t0))
    }
    Map("units" ->
      (if (trace) closedLoop(window, MinTracedPairs, plain("first"),
        i => pairs(i, plain("run"), traced()))
      else closedLoop(window, MinUnits, plain("first"), _ => Seq(plain("run")))))
  }

  /** WikiPipeline.run's layer calls in its order, each layer's result
    * materialized (persist + count) at its boundary so its work lands in
    * its own span; then the GraphX engine on the same pages and edges. */
  def tracedPipeline(spark: SparkSession, input: String, output: String,
      tr: Tracer): Map[String, Any] = {
    val raw = tr.span("sources.xml") { s =>
      val df = spark.read.format("graft-xml").option("path", input).load()
      s.extra("splits") = df.rdd.getNumPartitions
      val r = df.persist(MEMORY_AND_DISK)
      s.extra("records") = r.count().toDouble
      r
    }
    val (pages, links) = tr.span("wiki.ingest") { s =>
      val parsed = WikiIngest.parsePageXml(raw, "xml").persist(MEMORY_AND_DISK)
      val pages = WikiIngest.pageTitles(parsed).persist(MEMORY_AND_DISK)
      val links = WikiIngest.extractLinks(parsed)
        .select(col("page").as("src"), col("link").as("dst"))
        .persist(MEMORY_AND_DISK)
      pages.count()
      s.extra("links_valid") = links.count().toDouble
      raw.unpersist(blocking = false)
      parsed.unpersist(blocking = false)
      (pages, links)
    }
    val (edges, n, nEdges) = tr.span("graph.linkgraph") { _ =>
      val edges = LinkGraph.removeRedLinks(links, pages).persist(MEMORY_AND_DISK)
      val nEdges = edges.count()
      links.unpersist(blocking = false)
      (edges, LinkGraph.countPages(pages), nEdges)
    }
    tr.span("wiki.sink") { _ =>
      import spark.implicits._
      Seq(s"N =\t$n").toDF("value").coalesce(1)
        .write.mode("overwrite").text(s"$output/n")
    }
    val ranks = tr.span("graph.pagerank") { s =>
      s.extra("partitions") = LoopExec.partitionsFor(spark, n)
      val t0 = System.nanoTime()
      var rest = 0L
      val r = PageRank.run(pages, edges, onIteration = (i, r) =>
        if (i == 1) {
          r.count()
          s.extra("iter1_s") = seconds(t0)
          tr.span("wiki.sink") { _ =>
            RankSink.writeSnapshot(r, s"$output/snapshots", iteration = 1)
            RankSink.writeRankedText(PageRank.topRanks(r, n), s"$output/iter1")
          }
          rest = System.nanoTime()
        })
      s.extra("iters_rest_s") = seconds(rest)
      r
    }
    tr.span("wiki.sink") { _ =>
      RankSink.writeRankedText(PageRank.topRanks(ranks, n),
        s"$output/iter${PageRank.DefaultIters}")
    }
    tr.span("graph.graphx") { _ => PageRankGraphX.run(pages, edges).count() }
    pages.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    Map("n" -> n, "edges" -> nEdges)
  }

  // ------------------------------------------------------------------
  // graph_serve: graph queries on a warm session, one pass per unit.

  /** The graph queries graph_serve runs, by the layer each exercises: a
    * subset of the benched GraphQueries entries that covers every graph
    * layer and whose cold pass fits one benchmark run. */
  val ServeQueries: Seq[(String, String)] = Seq(
    // projections of a GraphCatalog store: tpch, tpchRanks, tpchHits
    "q_graph_count" -> "graph.catalog", "q_graph_edges" -> "graph.catalog",
    "q_pagerank" -> "graph.catalog", "q_pagerank_top" -> "graph.catalog",
    "q_graph_hits" -> "graph.catalog",
    "q_pagerank_cold" -> "graph.pagerank",
    "q_pagerank_graphx" -> "graph.graphx",
    "q_graph_components" -> "graph.loops")

  /** An order-insensitive hash over every row and column: row count plus
    * two sums of 32-bit row hashes. */
  def fingerprint(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "∅"
      case d: Double => java.lang.Double.toString(d)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case x => x.toString
    }
    var a, b = 0L
    rows.foreach { r =>
      val s = canon(r)
      a += MurmurHash3.stringHash(s, 17) & 0xffffffffL
      b += MurmurHash3.stringHash(s, 31) & 0xffffffffL
    }
    s"${rows.length}:${a.toHexString}:${b.toHexString}"
  }

  /** The GraphCatalog stores the served queries read. */
  def catalogStores(spark: SparkSession, dir: String): Unit = {
    GraphCatalog.tpch(spark, dir)
    GraphCatalog.tpchRanks(spark, dir).count()
    GraphCatalog.tpchHits(spark, dir).count()
  }

  def serve(spark: SparkSession, dir: String, window: Double, seed: Long,
      trace: Boolean): Map[String, Any] = {
    val census = new Census(spark.sparkContext)
    val rng = new Random(seed)
    var seq = 0
    def pass(kind: String, tr: Option[Tracer]): Map[String, Any] = {
      val key = s"p$seq"; seq += 1
      val times = ArrayBuffer.empty[(String, Double)]
      val prints = ArrayBuffer.empty[(String, String)]
      Map("kind" -> kind) ++ measured(spark, census, key) {
        rng.shuffle(ServeQueries).foreach { case (name, layer) =>
          def run(): String =
            fingerprint(GraphQueries.queries(name)(spark, dir).collect())
          val t0 = System.nanoTime()
          val fp = Try(tr.fold(run())(_.span(layer)(_ => run())))
          times += name -> seconds(t0)
          prints += name -> fp.fold(e => "error: " + message(e), identity)
          Lineage.freeScratch(spark)
        }
        Map("query_s" -> times.toMap, "fingerprints" -> prints.toMap)
      } ++ Map("wall_s" -> times.map(_._2).sum)
    }
    def traced(): Map[String, Any] = {
      val tr = new Tracer(spark.sparkContext, census, s"p$seq")
      val t0 = System.nanoTime()
      pass("traced", Some(tr)) ++ Map("spans" -> tr.records(t0))
    }
    if (!trace)
      Map("queries" -> ServeQueries.length, "units" ->
        closedLoop(window, MinUnits, pass("first", None),
          _ => Seq(pass("run", None))))
    else {
      // the catalog's cold builds, then the same calls served from memo
      val cat = new Tracer(spark.sparkContext, census, "catalog")
      val t0 = System.nanoTime()
      cat.span("graph.catalog.build")(_ => catalogStores(spark, dir))
      cat.span("graph.catalog.serve")(_ => catalogStores(spark, dir))
      Map("queries" -> ServeQueries.length, "catalog" -> cat.records(t0),
        "units" -> closedLoop(window, MinTracedPairs, pass("first", None),
          i => pairs(i, pass("run", None), traced())))
    }
  }

  /** graph_serve's fixed TPC-H-like citation graph: customers buy from
    * suppliers through orders' line items. One parquet file per table
    * under `dir`, with the columns and types the graph queries read.
    * Orders hold 1-7 line items; a third of the customers place no
    * orders, as in TPC-H. */
  def tables(spark: SparkSession, dir: String, customers: Int, suppliers: Int,
      orders: Int): Unit = {
    import spark.implicits._
    val rng = new Random(20240)
    val active = (1L to customers).filter(_ % 3 != 0)
    val ords = (1 to orders).map(i => (4L * i, active(rng.nextInt(active.length))))
    val lines = ords.flatMap { case (key, _) =>
      Seq.fill(1 + rng.nextInt(7))(
        (key, 1L + rng.nextInt(suppliers), 1.0 + rng.nextInt(50)))
    }
    def write(name: String, df: DataFrame): Unit = {
      val tmp = Paths.get(s"$dir/$name.tmp")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(s"$dir/$name.parquet"))
      Files.walk(tmp).sorted(Comparator.reverseOrder[Path]).iterator.asScala
        .foreach(Files.delete)
    }
    write("customer", (1L to customers).toDF("c_custkey"))
    write("supplier", (1L to suppliers.toLong).toDF("s_suppkey"))
    write("orders", ords.toDF("o_orderkey", "o_custkey"))
    write("lineitem", lines.toDF("l_orderkey", "l_suppkey", "l_quantity"))
  }

  /** Each pipeline unit's `snapshots/` under `out` (parquet) as
    * `<unit>/snapshots.tsv` lines of `page \t rank \t iter`, for run.py's
    * check. */
  def snapshotsAsText(spark: SparkSession, out: String): Unit = {
    val root = Paths.get(out)
    val units = if (Files.isDirectory(root)) Files.list(root).iterator.asScala.toSeq
      else Nil
    units.filter(u => Files.isDirectory(u.resolve("snapshots"))).foreach { u =>
      val rows = spark.read.parquet(u.resolve("snapshots").toString)
        .select("page", "rank", "iter").collect()
      Files.write(u.resolve("snapshots.tsv"), rows.map(r =>
        s"${r.getString(0)}\t${r.getDouble(1)}\t${r.get(2)}\n").mkString
        .getBytes(UTF_8))
    }
  }

  // ------------------------------------------------------------------
  // Self-test and pinning helpers.

  /** The program's link graph for a dump (WikiIngest.extractLinks +
    * LinkGraph.removeRedLinks), as `src \t dst` lines. */
  def edges(spark: SparkSession, dump: String, out: String): Unit = {
    val parsed = WikiIngest.parsePageXml(
      spark.read.format("graft-xml").option("path", dump).load(), "xml")
    val e = LinkGraph.removeRedLinks(WikiIngest.extractLinks(parsed)
        .select(col("page").as("src"), col("link").as("dst")),
      WikiIngest.pageTitles(parsed))
    Files.write(Paths.get(out), e.collect()
      .map(r => s"${r.getString(0)}\t${r.getString(1)}\n").mkString
      .getBytes(UTF_8))
  }

  /** Every served graph query's result as parquet under `out/<query>`,
    * with `oracle_sql.json` (the DuckDB oracles) and the fingerprints the
    * serve workload checks against, `fingerprints.json`. */
  def pin(spark: SparkSession, dir: String, out: String): Unit = {
    val prints = ServeQueries.map { case (name, _) =>
      val df = GraphQueries.queries(name)(spark, dir)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      Lineage.freeScratch(spark)
      name -> fingerprint(rows)
    }.toMap
    val oracles = SparkEntry.oracleSql.filter(q => prints.contains(q._1))
    Json.writeValue(Paths.get(s"$out/oracle_sql.json").toFile, oracles)
    Json.writeValue(Paths.get(s"$out/fingerprints.json").toFile, prints)
  }
}
