package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import graft.{QuadStore, UpdateLog}
import graft.gen.BsbmGen
import graft.web.SparqlServer

/**
 * `endpoint_rw`: `SparqlServer` in logged (`UpdateLog`) mode over a
 * BSBM-shaped store that set-up generates, dumps to N-Quads and loads back
 * through `QuadStore.loadFile`. Closed-loop HTTP clients send about 80%
 * BSBM-Explore-shaped SELECTs and 20% INSERT DATA / DELETE WHERE updates;
 * the seed picks every constant and the request stream. At the end the
 * server is stopped and reopened from its log. Every response must parse;
 * every acknowledged update must be visible at the end and after reopen.
 */
object EndpointWorkload {

  private val Rdfs = BsbmGen.Rdfs
  private val Voc = BsbmGen.Voc
  private val Inst = BsbmGen.Inst
  val Mark = "urn:bench:mark"

  final case class Setup(dir: String, server: SparqlServer)

  /** The input: BSBM quads dumped to N-Quads before any timing. Every
    * producer, vendor, reviewer, type and feature is kept, but only one
    * product in four and one offer and one review in forty, so that reads
    * stay interactive on a 4-core host. */
  def generate(ctx: Ctx): String = {
    // BsbmGen is not seeded, so one dump serves every run of one build
    val path = Paths.get(ctx.cacheDir, "bsbm-1000-sampled.nq").toString
    if (Files.exists(Paths.get(path, "_SUCCESS"))) return path
    val kind = regexp_extract(col("subject.v"), "/(Product|Offer|Review)(\\d+)$", 1)
    val id = regexp_extract(col("subject.v"), "/(Product|Offer|Review)(\\d+)$", 2).cast("long")
    val gen = BsbmGen.quads(ctx.spark, 1000) // the smallest size BsbmGen accepts
      .where(kind === "" || (kind === "Product" && id % 4 === 0) || id % 40 === 0)
    QuadStore(gen).dumpNQuads(path)
    path
  }

  /** Load the dump, initialise the update log from it, start the server. */
  def setup(ctx: Ctx, nq: String, rep: Int): Setup = {
    val spark = ctx.spark
    val dir = ctx.path(s"endpoint-$rep")
    val t0 = System.nanoTime()
    UpdateLog.init(QuadStore.loadFile(spark, nq), s"$dir/log")
    ctx.layer("store.load_s") = (System.nanoTime() - t0) / 1e9
    val server = SparqlServer.start(spark, port = 0, host = "127.0.0.1", logDir = Some(s"$dir/log"))
    Setup(dir, server)
  }

  /** The seeded request stream of one client. */
  final class Stream(seed: Long, client: Int, products: IndexedSeq[String]) {
    private val r = Main.rng(seed, s"client $client")
    private var nextItem = 0
    val live: mutable.LinkedHashSet[String] = mutable.LinkedHashSet.empty
    val acked: mutable.Map[String, Option[String]] = mutable.Map.empty // item -> value while live

    private var sent = 0
    private var order: Seq[Int] = Nil

    /** Requests come in cycles of ten: six SELECTs, an INSERT DATA, two
      * SELECTs, a DELETE WHERE. Both clients' inserts and deletes multiply
      * the update lineage weight to 64, the default at which `UpdateExec`
      * cuts the lineage, so most SELECTs run on a freshly cut store and the
      * ones between an insert and the cut on a grown lineage. */
    def next(): (String, String, Boolean) = {
      sent += 1
      sent % 10 match {
        case 7 => insert()
        case 0 => delete()
        case _ => select()
      }
    }

    def insert(): (String, String, Boolean) = {
      nextItem += 1
      val item = s"urn:bench:c$client/i$nextItem"
      ("insert", s"""INSERT DATA { <$item> <$Mark> "v$nextItem" . <$item> <${Voc}reviewFor> <${pick()}> }""", true)
    }

    /** Deletes one of this client's live items (there is one: inserts come
      * first in every cycle). */
    def delete(): (String, String, Boolean) = {
      val item = live.toSeq(r.nextInt(live.size))
      ("delete", s"DELETE WHERE { <$item> <$Mark> ?o }", true)
    }

    def select(): (String, String, Boolean) = {
      if (order.isEmpty) order = r.shuffle(Seq(0, 1, 2, 3))
      val template = order.head
      order = order.tail
      template match {
        case 0 =>
          val (t, f) = BsbmGen.TypeFeatures(r.nextInt(BsbmGen.TypeFeatures.size)) match { case (t, f, _) => (t, f) }
          ("q_type_feature",
            s"""SELECT DISTINCT ?product ?label WHERE {
               |  ?product <${Rdfs}label> ?label .
               |  ?product a <${Inst}ProductType$t> .
               |  ?product <${Voc}productFeature> <${Inst}ProductFeature$f> .
               |  ?product <${Voc}productPropertyNumeric1> ?v1 .
               |  FILTER (?v1 > ${1 + r.nextInt(500)})
               |} ORDER BY ?label LIMIT 10""".stripMargin, false)
        case 1 =>
          val p = pick()
          ("q_product",
            s"""SELECT ?label ?comment ?producer ?f WHERE {
               |  <$p> <${Rdfs}label> ?label . <$p> <${Rdfs}comment> ?comment .
               |  <$p> <${Voc}producer> ?pr . ?pr <${Rdfs}label> ?producer .
               |  <$p> <${Voc}productFeature> ?f .
               |}""".stripMargin, false)
        case 2 =>
          ("q_offers",
            s"""SELECT ?offer ?price ?vendor ?vlabel WHERE {
               |  ?offer <${Voc}product> <${pick()}> . ?offer <${Voc}price> ?price .
               |  ?offer <${Voc}vendor> ?vendor . ?vendor <${Rdfs}label> ?vlabel .
               |  ?offer <${Voc}deliveryDays> ?d . FILTER(?d <= ${1 + r.nextInt(7)})
               |} ORDER BY ?price LIMIT 10""".stripMargin, false)
        case _ =>
          ("q_reviews",
            s"""SELECT ?review ?title ?name WHERE {
               |  ?review <${Voc}reviewFor> <${pick()}> . ?review <http://purl.org/dc/elements/1.1/title> ?title .
               |  ?review <http://purl.org/stuff/rev#reviewer> ?rv . ?rv <http://xmlns.com/foaf/0.1/name> ?name .
               |} ORDER BY ?title LIMIT 20""".stripMargin, false)
      }
    }
    private def pick(): String = products(r.nextInt(products.size))

    /** Book-keeping once the server acknowledged an update. */
    def acknowledged(name: String, text: String): Unit = {
      val item = text.split("<")(1).takeWhile(_ != '>')
      if (name == "insert") { live += item; acked(item) = Some(text.split("\"")(1)) }
      else { live -= item; acked(item) = None }
    }
  }

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val base = s"http://127.0.0.1:$port/repositories/default"

    /** Returns (status, body, ttfbNs, bodyNs). */
    def send(text: String, update: Boolean): (Int, String, Long, Long) = {
      val req =
        if (update) HttpRequest.newBuilder(URI.create(s"$base/update"))
          .header("Content-Type", "application/sparql-update")
          .POST(HttpRequest.BodyPublishers.ofString(text)).build()
        else HttpRequest.newBuilder(URI.create(
          s"$base/query?query=${java.net.URLEncoder.encode(text, UTF_8)}"))
          .header("Accept", "application/sparql-results+json").GET().build()
      val t0 = System.nanoTime()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofInputStream())
      val t1 = System.nanoTime()
      val body = try new String(resp.body().readAllBytes(), UTF_8) finally resp.body().close()
      (resp.statusCode(), body, t1 - t0, System.nanoTime() - t1)
    }
  }

  private val json = new ObjectMapper()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** None when a response is well-formed: 2xx, and for a SELECT a results
    * document whose bindings parse. */
  def checkResponse(name: String, status: Int, body: String, update: Boolean): Option[String] =
    if (status / 100 != 2) Some(s"$name: HTTP $status ${body.take(200)}")
    else if (update) None
    else try {
      val b = json.readTree(body).path("results").path("bindings")
      if (!b.isArray) Some(s"$name: no results.bindings")
      else if (name == "q_product" && b.size == 0) Some(s"$name: a generated product has no details")
      else None
    } catch { case e: Exception => Some(s"$name: unparseable response: ${e.getMessage}") }

  /** One request, timed as an op; in the traced run a `request` span
    * carrying time-to-first-byte, body time and response size. */
  def request(ctx: Ctx, c: Client, s: Stream, req: (String, String, Boolean), clientId: Int, pass: Int): OpRecord = {
    val (name, text, update) = req
    val t = ctx.tracer
    val t0 = System.nanoTime()
    val res = try {
      Right(t.span(name, "request", setGroup = false) {
        val r = c.send(text, update)
        t.attr("ttfb_ms", r._3 / 1e6)
        t.attr("body_ms", r._4 / 1e6)
        t.attr("response_kb", r._2.length / 1024.0)
        t.attr("update", if (update) 1 else 0)
        r
      })
    } catch { case e: Throwable => Left(e) }
    val dur = System.nanoTime() - t0
    val ok = res match {
      case Left(e) => ctx.fail(s"$name: $e"); false
      case Right((status0, body0, _, _)) =>
        // the perturbation test corrupts select bodies and update statuses
        val (status, body) =
          if (ctx.perturb && pass == 1) (if (update) 599 else status0, Rows.perturb(body0).toString)
          else (status0, body0)
        checkResponse(name, status, body, update) match {
          case Some(msg) => ctx.fail(msg); false
          case None => if (update) s.acknowledged(name, text); true
        }
    }
    OpRecord(name, if (update) "update" else "select", pass, clientId, t0, dur, ok)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val nq = generate(ctx)
    ctx.mark("generated")
    var rep = 0
    // five set-ups: each takes about half a second, so the median needs more
    val st = ctx.repeatSetup[Setup](5, s => { s.server.stop(); Main.deleteTree(s.dir) }) {
      rep += 1; setup(ctx, nq, rep)
    }
    val base = QuadStore.load(spark, s"${st.dir}/log/base").quads
    val products = base.where(col("predicate.v") === graft.model.Rdf.type_ && col("object.v") === Voc + "Product")
      .select(col("subject.v")).distinct().orderBy(col("v")).collect().map(_.getString(0)).toIndexedSeq
    val quads = base.count()
    ctx.layer("store.bytes_per_quad") = Main.du(s"${st.dir}/log/base").toDouble / quads
    ctx.sizes("quads") = quads.toDouble
    ctx.sizes("products") = products.size.toDouble
    ctx.sizes("bytes_on_disk") = Main.du(s"${st.dir}/log").toDouble
    val port = st.server.boundPort
    val nClients = if (ctx.tracer.enabled) 1 else 2
    ctx.clients = nClients
    val streams = (0 until nClients).map(i => new Stream(ctx.seed, i, products))
    val clients = (0 until nClients).map(_ => new Client(port))
    // warm, from a separate stream and checked like the rest: each SELECT
    // template once, then insert, delete, insert, delete, which ends in a
    // lineage cut, so that measuring starts from a freshly cut store
    val warm = new Stream(ctx.seed, 99, products)
    (Iterator.fill(4)(warm.select()) ++
      Iterator(() => warm.insert(), () => warm.delete(), () => warm.insert(), () => warm.delete()).map(_())).foreach { req =>
      val r = request(ctx, clients.head, warm, req, 99, 0)
      ctx.extraAttempted += 1
      if (!r.ok) ctx.extraFailed += 1
    }
    val logBefore = Main.du(s"${st.dir}/log/log")
    ctx.tracer.resetHeapPeak()
    ctx.measureStartNs = System.nanoTime()
    val cycles = Main.passCount(ctx, 5, 2)
    // whole cycles (ten requests, two of them updates) per client, so every
    // run sees the same mix of freshly cut and grown lineage
    val threads = (0 until nClients).map { i =>
      new Thread(() => {
        for (cycle <- 1 to cycles; _ <- 1 to 10)
          ctx.record(request(ctx, clients(i), streams(i), streams(i).next(), i, cycle))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    ctx.measureEndNs = System.nanoTime()
    ctx.layer("jvm.heap_peak_mb") = ctx.tracer.heapPeakMb
    ctx.layer("store.log_bytes_per_update") =
      (Main.du(s"${st.dir}/log/log") - logBefore).toDouble / math.max(1, ctx.ops.count(o => o.kind == "update" && o.ok))

    // visibility: every acknowledged update, at the end and after reopen
    val want = (streams :+ warm).flatMap(_.acked.collect { case (item, Some(v)) => s"$item\u0001$v" }).sorted
    val markQuery = s"SELECT ?s ?o WHERE { ?s <$Mark> ?o }"
    def marks(c: Client): Seq[String] = {
      val (status, body, _, _) = c.send(markQuery, update = false)
      if (status != 200) Seq(s"HTTP $status")
      else {
        val it = json.readTree(body).path("results").path("bindings").elements()
        val out = mutable.ArrayBuffer.empty[String]
        while (it.hasNext) { val b = it.next(); out += s"${b.path("s").path("value").asText}\u0001${b.path("o").path("value").asText}" }
        out.sorted.toSeq
      }
    }
    ctx.mark("measured")
    val atEnd = marks(clients.head)
    ctx.finalCheck(atEnd == want, s"end state: ${atEnd.size} marks visible, ${want.size} acknowledged")
    st.server.stop()
    ctx.mark("stopped")

    val t0 = System.nanoTime()
    val replayed = UpdateLog.load(ctx.spark, s"${st.dir}/log")
    replayed.quads.count()
    ctx.layer("store.replay_s") = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val reopened = SparqlServer.start(ctx.spark, port = 0, host = "127.0.0.1", logDir = Some(s"${st.dir}/log"))
    try {
      val after = marks(new Client(reopened.boundPort))
      ctx.layer("store.recovery_s") = (System.nanoTime() - t1) / 1e9
      ctx.finalCheck(after == want, s"after reopen: ${after.size} marks visible, ${want.size} acknowledged")
    } finally reopened.stop()
    ctx.sizes("log_entries") = Option(new java.io.File(s"${st.dir}/log/log").list()).map(_.length).getOrElse(0).toDouble
  }
}
