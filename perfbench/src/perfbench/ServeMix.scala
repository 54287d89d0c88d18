package perfbench

import java.net.HttpURLConnection
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods
import graft.querydsl._
import graft.queries.TpchWorld
import graft.service.{HttpApi, QueryService}

/** `serve_mix`: the REST service over the cached readonly layer of the
  * generated TPC-H world (built by the program when the inputs were
  * generated; set-up loads and caches it). Load is a closed loop of two
  * clients with zero think time (the reference's REST client waits for
  * each reply) cycling through a pool of seeded requests, one per route.
  * Every response must be HTTP 200 with the same rows as a direct call of
  * the service function behind its route.
  *
  * Route latencies differ by 50x, so the latency figures weigh every route
  * the same: each measured loop ends on a complete cycle through the pool,
  * and p50 / p95 are the geometric mean over routes of each route's own
  * p50 / p95. */
object ServeMix {

  val Clients = 2
  val WarmupSeconds = 15.0
  val MaxRows = 1000

  final case class Req(
      route: String, method: String, path: String, body: Option[String],
      direct: Either[() => String, () => DataFrame])

  def run(ctx: Ctx, dir: String): Outcome = {
    val spark = ctx.spark
    val types = TpchWorld.types
    // set-up: load and cache the layer, three times (the first two copies
    // are dropped again)
    var ro: ReadonlyTables = null
    val loads = (1 to 3).map { i =>
      val (l, ms) = Bench.timedMs(Data.layer(spark, dir).materializeAll())
      if (i < 3) l.productIterator.foreach {
        case df: DataFrame => df.unpersist(blocking = true)
      } else ro = l
      ms
    }
    val server = HttpApi.start(ro, types, maxRows = MaxRows)
    val port = server.getAddress.getPort
    try {
      val pool = requests(ctx, ro)
      val setupS = ctx.sessionS + Bench.median(loads) / 1e3
      // the expected rows: each request as a direct call of the function
      // behind its route. Made before any request, so that what the
      // requests leave behind is read without these calls' own blocks; they
      // also start the JIT on the query path.
      val expected = pool.map(r => expect(ctx, r)._1)
      val base = ctx.held

      // latency keeps falling for the first tens of seconds of load (JIT
      // and code generation of every route's plans), so an unmeasured
      // warm-up loop comes first
      val warm = closedLoop(port, pool, WarmupSeconds)
      // a traced run alternates untraced and traced quarters of its time,
      // so the two see the same warm-up
      val (plain, tracedLoop) =
        if (!ctx.trace) (closedLoop(port, pool, ctx.seconds), None)
        else {
          val quarters = (0 until 4).map { q =>
            if (q % 2 == 1) ctx.tracer.start() else ctx.tracer.stop()
            closedLoop(port, pool, ctx.seconds / 4)
          }
          (quarters(0) ++ quarters(2), Some(quarters(1) ++ quarters(3)))
        }
      val leaks = ctx.leaks(base)
      val done = plain.lat ++ tracedLoop.map(_.lat).getOrElse(Nil)
      var failed = 0L
      done.foreach { r =>
        if (r.code != 200 || r.rows != expected(r.req)) {
          failed += 1
          System.err.println(s"[serve_mix] ${pool(r.req).method} ${pool(r.req).path}: " +
            s"HTTP ${r.code}, ${r.rows.size} rows vs ${expected(r.req).size} direct")
        }
      }
      def byRoute(l: Loop) = l.lat.map(r => pool(r.req).route -> r.ms)
      val layers =
        if (!ctx.trace) Nil
        else {
          val t = tracedLoop.get
          // the query layer's share: the direct calls again, warm and traced
          val calls = pool.map(r => expect(ctx, r)._2)
          val routeP50 = byRoute(t).groupBy(_._1).toSeq.sortBy(_._1)
            .map { case (route, rs) => route -> Bench.median(rs.map(_._2)) }
          // HTTP p50 minus the direct call's time, averaged over the routes
          // that run a query
          val overhead = pool.zip(calls).collect { case (req, Some(c)) =>
            routeP50.toMap.apply(req.route) - (c.planMs + c.execMs) }
          routeP50.map { case (route, ms) => (s"service.$route.p50_ms", ms, "ms") } ++
            layerMetrics(ctx, calls.flatten) ++ leaks ++ Seq(
              ("service.http_overhead_ms", overhead.sum / overhead.size, "ms"),
              ("trace.overhead_frac", Bench.groupQuantile(byRoute(t), 0.5) /
                Bench.groupQuantile(byRoute(plain), 0.5) - 1.0, "ratio"),
              ("trace.ops", done.size.toDouble, "count"))
        }
      // summed latency of each cycle, to show how far warm-up got (a traced
      // run's measured loops are four quarters, not one sequence)
      def cycles(l: Loop) = l.lat.groupBy(_.seq / pool.size).toSeq.sortBy(_._1)
        .map { case (_, rs) => f"${rs.map(_.ms).sum / 1e3}%.1f" }.mkString(" ")
      System.err.println(s"[serve_mix] cycle seconds: warm-up ${cycles(warm)}" +
        (if (ctx.trace) "" else s", measured ${cycles(plain)}"))
      System.err.println("[serve_mix] route p50 ms: " + byRoute(plain).groupBy(_._1).toSeq
        .sortBy(_._1).map { case (k, v) => f"$k ${Bench.median(v.map(_._2))}%.0f" }.mkString(", "))
      Outcome(setupS, Bench.groupQuantile(byRoute(plain), 0.5),
        Bench.groupQuantile(byRoute(plain), 0.95), plain.lat.size / plain.wallS,
        done.size.toLong, failed, layers, base.mb)
    } finally {
      server.stop(0)
      server.getExecutor match {
        case e: java.util.concurrent.ExecutorService => e.shutdownNow()
        case _ => ()
      }
    }
  }

  /** Rows as a sorted list of compact JSON objects. */
  private def normalRows(rows: Seq[String]): Seq[String] =
    rows.map(r => JsonMethods.compact(JsonMethods.parse(r))).sorted

  /** The elements of a JSON array body, in the same normal form. */
  private def normalBody(body: String): Seq[String] = JsonMethods.parse(body) match {
    case JArray(items) => items.map(i => JsonMethods.compact(i)).sorted
    case other => Seq(JsonMethods.compact(other))
  }

  final case class Call(rows: Seq[String], planMs: Double, execMs: Double)

  /** Build the result DataFrame the way the REST layer serializes it
    * (capped at `MaxRows`, one JSON string per row) — query compilation
    * and result composition included — and reach its executed plan, as
    * span `querydsl.plan`; then collect it, as `querydsl.exec`. Scoped as
    * the service scopes a request, so its checkpoints are released. */
  private def direct(ctx: Ctx, mk: () => DataFrame): Call =
    graft.core.BlockScope.scoped {
      val (ds, planMs) = Bench.timedMs(ctx.tracer.span("querydsl.plan") {
        val d = mk().limit(MaxRows).toJSON
        d.queryExecution.executedPlan
        d
      })
      val (rows, execMs) =
        Bench.timedMs(ctx.tracer.span("querydsl.exec")(ds.collect().toSeq))
      Call(rows, planMs, execMs)
    }

  /** The query-layer metrics of the traced direct calls. Stages, tasks
    * and records read count both spans: building a result may already run
    * jobs (materialization boundaries). */
  private def layerMetrics(ctx: Ctx, calls: Seq[Call]): Seq[(String, Double, String)] = {
    val spans = Seq("querydsl.plan", "querydsl.exec").map(ctx.tracer.get)
    val n = math.max(1, calls.size).toDouble
    val returned = calls.map(_.rows.size).sum
    Seq(
      ("querydsl.plan_ms", Bench.median(calls.map(_.planMs)), "ms"),
      ("querydsl.exec_ms", Bench.median(calls.map(_.execMs)), "ms"),
      ("querydsl.stages_per_req", spans.map(_.stages).sum / n, "count"),
      ("querydsl.tasks_per_req", spans.map(_.tasks).sum / n, "count"),
      ("querydsl.rows_examined_per_row_returned",
        spans.map(_.recordsRead).sum.toDouble / math.max(1, returned), "ratio"))
  }

  /** A request's expected rows in normal form, and the direct call that
    * produced them (none for grounding, which runs no query). */
  private def expect(ctx: Ctx, r: Req): (Seq[String], Option[Call]) =
    r.direct match {
      case Left(json) => (normalBody(json()), None)
      case Right(mk) =>
        val c = direct(ctx, mk)
        (normalRows(c.rows), Some(c))
    }

  /** One reply: its place in the loop's sequence, the request's index in
    * the pool, the HTTP code, the rows in normal form, the latency and when
    * it arrived (s since the loop started). */
  final case class Resp(seq: Int, req: Int, code: Int, rows: Seq[String], ms: Double,
      doneS: Double)

  final case class Loop(lat: Seq[Resp], wallS: Double) {
    def ++(o: Loop): Loop = Loop(lat ++ o.lat, wallS + o.wallS)
  }

  /** `Clients` threads, each sending its next request when the previous
    * reply has been read, until `seconds` have passed and the cycle
    * through the pool under way then is complete, so that every route has
    * as many replies as the others. The loop's wall time ends with the
    * last reply of that cycle. */
  private def closedLoop(port: Int, pool: IndexedSeq[Req], seconds: Double): Loop = {
    val n = pool.size
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val end = new java.util.concurrent.atomic.AtomicInteger(Int.MaxValue)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Resp]
    val t0 = Bench.nowS()
    // the next sequence number; the first one drawn after time is up
    // fixes the end of the loop at the next cycle boundary
    def draw(): Int = {
      val i = next.getAndIncrement()
      if (Bench.nowS() - t0 >= seconds) end.compareAndSet(Int.MaxValue, (i + n - 1) / n * n)
      i
    }
    val threads = (1 to Clients).map { _ =>
      val t = new Thread(() => {
        var i = draw()
        while (i < end.get) {
          out.add(send(port, i, i % n, pool(i % n), t0))
          i = draw()
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    // a request drawn before the end was fixed may lie past it
    val lat = out.asScala.toSeq.filter(_.seq < end.get)
    Loop(lat, lat.map(_.doneS).max)
  }

  private def send(port: Int, seq: Int, i: Int, r: Req, loopT0: Double): Resp = {
    val t0 = System.nanoTime()
    val c = java.net.URI.create(s"http://127.0.0.1:$port${r.path}").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(r.method)
    r.body.foreach { b =>
      c.setDoOutput(true)
      val os = c.getOutputStream
      os.write(b.getBytes(UTF_8))
      os.close()
    }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = new String(in.readAllBytes(), UTF_8)
    in.close()
    val ms = (System.nanoTime() - t0) / 1e6
    Resp(seq, i, code, if (code == 200) normalBody(body) else Nil, ms,
      Bench.nowS() - loopT0)
  }

  /** One request per route, in a fixed order and with a fixed namespace
    * per route, so that every seed runs the same plan shapes. The seed
    * picks the parameters among values the layer holds, so that every
    * request returns rows: agents from the namespace's meta table, an
    * (agent, type) pair and a hash from one statement, an expand pair
    * from the layer's agent sets. It picks only among values of the most
    * common size (rows per agent, evidence per statement, statements per
    * agent set), so every seed's requests do the same amount of work. */
  private def requests(ctx: Ctx, ro: ReadonlyTables): IndexedSeq[Req] = {
    val types = TpchWorld.types
    val rng = ctx.rng
    // one of the values of `key` that occur the most common number of times
    def pick(df: DataFrame, key: String): String = {
      val sizes = df.groupBy(key).count()
      val mode = sizes.groupBy("count").count().toDF("size", "n")
        .orderBy(col("n").desc, col("size")).first().getLong(0)
      val keys = sizes.filter(col("count") === mode).select(key).orderBy(key)
        .collect().map(_.get(0).toString)
      keys(rng.nextInt(keys.length))
    }
    def agent(meta: DataFrame) = pick(meta, "db_id")
    val hgnc = ro.otherMeta.filter(col("db_name") === "HGNC")
    def fromAgents(rt: String, ag: String, n: String) = {
      val req = QueryService.Request(agents = Seq(ag), namespace = n, evLimit = 3)
      Req(s"${rt}_from_agents", "GET",
        s"/$rt/from_agents?agent=$ag&namespace=$n&ev_limit=3", None,
        Right(() => QueryService.run(req, rt, ro, types)))
    }
    val h = pick(ro.fastRawPaLink.join(ro.nameMeta.select("mk_hash").distinct(),
      Seq("mk_hash"), "left_semi"), "mk_hash").toLong
    val stmt = ro.nameMeta.filter(col("mk_hash") === h)
      .select("db_id", "type_num").orderBy("db_id").first()
    val q = HasAgent(stmt.getString(0), "NAME") &
      HasType(Seq(types.fromNum(stmt.getInt(1))))
    val pair = pick(ro.agentInteractions.filter(!col("is_complex_dup"))
      .filter(col("agent_str").contains(";")), "agent_str")
    val agentMap = pair.split(";").map { s =>
      val Array(k, v) = s.split(":", 2); k.toInt -> v }.toMap
    val surfaces = Seq("kras", "ERK", "ER", "tp53", "NF-kappaB", "MEK",
      "Vemurafenib", "TNFα")
    val ground = surfaces(rng.nextInt(surfaces.size))
    IndexedSeq(
      fromAgents("hashes", agent(ro.nameMeta), "NAME"),
      fromAgents("statements", agent(hgnc), "HGNC"),
      fromAgents("relations", agent(ro.nameMeta), "NAME"),
      fromAgents("agents", agent(hgnc), "HGNC"),
      Req("statements_from_hash", "GET", s"/statements/from_hash/$h", None,
        Right(() => Results.statementJsonResult(HasHash(Set(h)), ro, types))),
      Req("query_statements", "POST", "/query/statements?ev_limit=3",
        Some(QueryJson.toJson(q)),
        Right(() => Results.statementJsonResult(q, ro, types, evLimit = 3))),
      Req("expand", "GET", s"/expand?agents=${java.net.URLEncoder.encode(pair, UTF_8)}",
        None, Right(() => Results.expand(agentMap, None, ro, types))),
      Req("ground", "GET", s"/ground?agent=${java.net.URLEncoder.encode(ground, UTF_8)}",
        None, Left(() => groundJson(ground))))
  }

  /** The grounding reply the service builds for `agent`. */
  private def groundJson(agent: String): String = {
    val out = graft.core.Grounder.scoredDefault.candidates(agent).map {
      case (score, e) =>
        ("term" -> (("db" -> e.ns) ~ ("id" -> e.id) ~ ("entry_name" -> e.text))) ~
          ("score" -> score)
    }
    JsonMethods.compact(JsonMethods.render(out))
  }
}
