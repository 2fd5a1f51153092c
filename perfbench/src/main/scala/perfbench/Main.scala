package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{GraftSession, ModelStore, SparkEntry}
import graft.ngsi.NgsiPipelines
import graft.streaming.NgsiStreams

/** The JVM under test. It drives the program only through its public entry
  * points and writes raw measurements as one JSON file; run.py turns them
  * into metrics. Usage:
  *   Main --workload <name> --out <file> --seconds <n> --trace <0|1> [...]
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def traced: Boolean = m.get("trace").contains("1")
    def seconds: Double = apply("seconds").toDouble
    def setups: Int = apply("setups").toInt
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spans = new Spans
    val (out, runS) = spans.around(0L, "run", o("workload")) { runId =>
      o("workload") match {
        case "orion_roundtrip" => new Roundtrip(o, cpus, spans, runId).run()
        case "catalog_mix" => new Catalog(o, cpus, spans, runId).run()
        case "catalog_prime" => Catalog.prime(o, cpus)
        case w => sys.error(s"unknown workload $w")
      }
    }
    val record = out ++ Map(
      "run_s" -> runS,
      "rss_peak_mb" -> vmHwmMb(),
      "spans" -> (if (o.traced) spans.all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)) else Nil))
    Files.writeString(Paths.get(o("out")), json.writeValueAsString(record))
    // Spark's non-daemon threads must not keep a finished run alive.
    System.exit(0)
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** A fresh session per set-up; listeners only in traced runs. */
  def session(cpus: String): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val s = GraftSession.local(cpus)
    s.sparkContext.setLogLevel("WARN")
    GraftSession.muteExpectedWarnings()
    (s, (System.nanoTime() - t0) / 1e9)
  }

  def engine(p: Option[Probe], phase: String): Map[String, Double] =
    p.map(_.counters(phase).asMap).getOrElse(Map.empty)

  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }

  /** Lets queued listener events reach the probe before counters are read. */
  def settle(p: Option[Probe]): Unit = if (p.isDefined) Thread.sleep(500)
}

/** orion_roundtrip: HTTP source -> parse -> minTemperature sliding window ->
  * toOrionUpdates -> OrionSink.Writer, against the stub broker held by the
  * separate load process, which this class drives through its control port. */
final class Roundtrip(o: Main.Opts, cpus: String, spans: Spans, runId: Long) {
  import Main._
  private val http = HttpClient.newHttpClient()
  private val ctl = s"http://127.0.0.1:${o("ctl-port")}"
  private val brokerBase = s"http://127.0.0.1:${o("broker-port")}/v2/entities/"

  private def phase(body: Map[String, Any]): Map[String, Any] = {
    val req = HttpRequest.newBuilder(URI.create(s"$ctl/phase"))
      .POST(HttpRequest.BodyPublishers.ofString(json.writeValueAsString(body)))
      .header("Content-Type", "application/json").build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    require(r.statusCode() == 200, s"load process refused phase: ${r.body()}")
    json.readValue(r.body(), classOf[Map[String, Any]])
  }

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  def run(): Map[String, Any] = {
    val setups = ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    var query: StreamingQuery = null
    var probe: Option[Probe] = None
    var progress: Option[ProgressLog] = None
    var port = 0
    for (i <- 0 until o.setups) {
      if (query != null) { query.stop(); spark.stop() }
      val ((_, sessionS), totalS) = spans.around(runId, "setup", s"setup$i") { _ =>
        val (s, ss) = session(cpus)
        spark = s
        if (o.traced) {
          probe = Some(new Probe(spans)); progress = Some(new ProgressLog)
          s.sparkContext.addSparkListener(probe.get)
          s.streams.addListener(progress.get)
        }
        port = freePort()
        val raw = NgsiStreams.fromHttp(s, port)
        val updates = NgsiPipelines.toOrionUpdates(
          NgsiStreams.minTemperatureStream(raw), brokerBase)
        query = NgsiStreams.start(NgsiStreams.toOrion(updates))
        phase(Map("name" -> s"warmup$i", "port" -> port,
          "rates" -> Seq(o("warm-rate").toInt), "seconds" -> o("warm-seconds").toDouble))
        (s, ss)
      }
      // The warm-up's fixed send schedule is the load's time, not the program's.
      val programS = totalS - o("warm-seconds").toDouble
      setups += Map("session_s" -> sessionS, "warmup_s" -> (programS - sessionS),
        "total_s" -> programS)
    }
    settle(probe)
    val before = engine(probe, "")
    val (ladder, _) = spans.around(runId, "ladder", "ladder") { _ =>
      phase(Map("name" -> "ladder", "port" -> port,
        "rates" -> o("rates").split(",").map(_.toInt).toSeq, "seconds" -> o.seconds))
    }
    settle(probe)
    val after = engine(probe, "")
    val failure = query.exception.map(_.toString)
    query.stop()
    spark.stop()
    Map(
      "setups" -> setups.toList,
      "ladder" -> ladder,
      "query_failure" -> failure.orNull,
      "engine" -> diff(before, after),
      "progress" -> progress.map(_.all.map(p => json.readValue(p.json, classOf[Map[String, Any]])))
        .getOrElse(Nil))
  }
}

/** catalog_mix: a fresh session, code generation warmed on the small
  * tables, then each query of the fixed order once on the main tables. */
final class Catalog(o: Main.Opts, cpus: String, spans: Spans, runId: Long) {
  import Main._

  def run(): Map[String, Any] = {
    ModelStore.root = Some(o("models"))
    val order = o("queries").split(",").toSeq
    val setups = ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    var probe: Option[Probe] = None
    for (i <- 0 until o.setups) {
      if (spark != null) spark.stop()
      val ((_, sessionS), totalS) = spans.around(runId, "setup", s"setup$i") { _ =>
        val (s, ss) = session(cpus)
        spark = s
        if (o.traced) { probe = Some(new Probe(spans)); s.sparkContext.addSparkListener(probe.get) }
        order.foreach(q => SparkEntry.queries(q)(s, o("warm-dir")).collect())
        (s, ss)
      }
      setups += Map("session_s" -> sessionS, "warmup_s" -> (totalS - sessionS),
        "total_s" -> totalS)
    }
    val sc = spark.sparkContext
    val pins = if (o.traced) Some(new PinSampler(sc, 50L)) else None
    val trains0 = ModelStore.trains.get
    val loads0 = ModelStore.loads.get
    val outDir = o("result-dir")
    val results = order.map { q =>
      sc.setLocalProperty(Probe.PhaseProperty, q)
      val (res, s) = spans.around(runId, "query", q) { _ =>
        try {
          val df = SparkEntry.queries(q)(spark, o("dir"))
          Right((df.schema, df.collect().toSeq))
        } catch { case e: Exception => Left(e.toString) }
      }
      pins.foreach(_.sample())
      q -> (res, s)
    }
    val trains = ModelStore.trains.get - trains0
    val loads = ModelStore.loads.get - loads0
    pins.foreach(_.stop())
    settle(probe)
    sc.setLocalProperty(Probe.PhaseProperty, "export")
    // Untimed: results and the model artifacts the oracle reads, as parquet.
    results.foreach {
      case (q, (Right((schema, rows)), _)) =>
        spark.createDataFrame(rows.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$q")
      case _ => ()
    }
    val aux = s"$outDir/_aux"
    graft.operators.Similarity.centroidsFor(spark, o("dir"))
      .coalesce(1).write.mode("overwrite").parquet(s"$aux/q52_centroids")
    graft.operators.Similarity.pqResidualCodebookFor(spark, o("dir"))
      .coalesce(1).write.mode("overwrite").parquet(s"$aux/q137_codebook")
    val oracle = order.flatMap(q => SparkEntry.oracleSql.get(q).map(sql =>
      q -> sql.replace(graft.operators.Similarity.AuxDirToken, aux))).toMap
    spark.stop()
    Map("setups" -> setups.toList,
      "queries" -> results.map { case (q, (res, s)) => Map("name" -> q, "s" -> s,
        "rows" -> res.fold(_ => -1, _._2.size), "error" -> res.left.toOption.orNull,
        "engine" -> engine(probe, q)) },
      "oracle_sql" -> oracle,
      "modelstore" -> Map("trains" -> trains, "loads" -> loads),
      "pinned" -> pins.map(p => Map("rdds_max" -> p.rddsMax.get, "bytes_max" -> p.bytesMax.get))
        .getOrElse(Map.empty))
  }
}

object Catalog {
  /** Populates the benchmark-owned ModelStore once, before any timed run. */
  def prime(o: Main.Opts, cpus: String): Map[String, Any] = {
    ModelStore.root = Some(o("models"))
    val (spark, _) = Main.session(cpus)
    val order = o("queries").split(",").toSeq
    for (dir <- Seq(o("warm-dir"), o("dir")); q <- order)
      SparkEntry.queries(q)(spark, dir).collect()
    spark.stop()
    Map("trains" -> ModelStore.trains.get, "loads" -> ModelStore.loads.get,
      "oracle_sql" -> order.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }
}
