package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.assembly._
import graft.core.TypeRegistry
import graft.querydsl.ReadonlyTables

/** `assembly_build`: the reference's batch pipeline, principal dump to
  * readonly tables — `Pipeline.run(...).materializeAll()` — in a fresh
  * process, repeated only while one more build fits in the run's seconds.
  * The seed re-partitions and re-orders the dump, which must not change
  * the output: every build's eleven tables are checked against checksums
  * recorded with the benchmark.
  *
  * The traced run builds twice untraced, then builds once decomposed into
  * the spans below, each a call into one public assembly function whose
  * output is forced by the checksum probe and kept as a local checkpoint
  * for the next span — the same boundaries `Pipeline.run` checkpoints at. */
object AssemblyBuild {

  val types = TypeRegistry(Data.stmtTypes)

  /** Checksums (rows:hash-sum) of the eleven readonly tables built from
    * the generated dump. */
  val golden: Map[String, String] = Map(
    "nameMeta" -> "1866:959919390273",
    "textMeta" -> "0:0",
    "otherMeta" -> "1923:960014413876",
    "sourceMeta" -> "1783:906524778264",
    "meshTermMeta" -> "7881:3964424745567",
    "meshConceptMeta" -> "7087:3521733618204",
    "fastRawPaLink" -> "11158:5595745299752",
    "rawStmtMesh" -> "15361:7718666709611",
    "readingRefLink" -> "2378:1179934768509",
    "agentInteractions" -> "1700:832145362128",
    "paAgents" -> "3789:1889235940688")

  private def checksums(ro: ReadonlyTables): Map[String, String] =
    Bench.checksums(Data.layerNames.zip(ro.productIterator.toSeq.map {
      case df: DataFrame => df
    })).map { case (n, c) => n -> Bench.fmt(c) }

  private def release(ro: ReadonlyTables): Unit =
    ro.productIterator.foreach { case df: DataFrame => df.unpersist(blocking = true) }

  private def arranged(df: DataFrame, key: String, ctx: Ctx): DataFrame =
    df.repartition(ctx.cores, xxhash64(col(key), lit(ctx.seed)))
      .sortWithinPartitions(xxhash64(col(key), lit(ctx.seed + 1)))

  /** The dump, arranged by the seed and cached. */
  private def loadDump(ctx: Ctx, dir: String): PrincipalDump = {
    def t(name: String, key: String) = {
      val df = arranged(ctx.spark.read.parquet(s"$dir/$name.parquet"), key, ctx)
        .persist()
      df.count()
      df
    }
    PrincipalDump(
      t("raw_statements", "raw_stmt_id"), t("readings", "rid"),
      t("text_refs", "trid"), t("mesh", "pmid"))
  }

  private def build(ctx: Ctx, dump: PrincipalDump): ReadonlyTables =
    Pipeline.run(ctx.spark, dump, types, Data.readerSources, Data.dbSources)
      .materializeAll()

  def run(ctx: Ctx, dir: String): Outcome = {
    // set-up three times; the first two copies are dropped again
    var dump: PrincipalDump = null
    val setupReps = (1 to 3).map { i =>
      val (d, ms) = Bench.timedMs(loadDump(ctx, dir))
      if (i < 3) d.productIterator.foreach {
        case df: DataFrame => df.unpersist(blocking = true)
      } else dump = d
      ms / 1e3
    }
    var failed = 0L
    def check(ro: ReadonlyTables): Unit = {
      val got = checksums(ro)
      val bad = Data.layerNames.filter(n => !golden.get(n).contains(got(n)))
      if (bad.nonEmpty) {
        failed += 1
        System.err.println(s"[assembly_build] checksum mismatch: " +
          bad.map(n => s"$n=${got(n)}").mkString(" "))
      }
      release(ro)
    }
    val base = ctx.held
    val setupS = ctx.sessionS + Bench.median(setupReps)

    // the build is a batch job: a fresh process pays its JIT and code
    // generation, so there is no warm-up. A traced run builds twice
    // untraced, then traces; its overhead is against the second (warm)
    // untraced build.
    val (ops, wall) = Bench.repeat(if (ctx.trace) ctx.seconds / 2 else ctx.seconds,
      if (ctx.trace) 2 else 1)(build(ctx, dump))(check)
    // what the untraced builds left behind (the traced build's own forced
    // checkpoints would count otherwise)
    val leaks = ctx.leaks(base)
    ctx.tracer.start()
    var edgeYield = 0.0
    var uniqueRatio = 0.0
    val traced =
      if (!ctx.trace) Nil
      else Bench.repeat(ctx.seconds / 2, 1)(tracedBuild(ctx, dump)) {
        case (ro, u, e) => uniqueRatio = u; edgeYield = e; check(ro)
      }._1
    val layers =
      if (!ctx.trace) Nil
      else {
        val spans = Seq("distill", "parse", "dedup", "source_counts", "agents",
          "refine", "belief", "readonly").map("assembly." + _)
        val spanWall = spans.map(s => ctx.tracer.get(s)).map(s =>
          s.wallNs / 1e9 / math.max(1L, s.calls)).sum
        spans.flatMap(ctx.tracer.metrics(_, ctx.cores)) ++ leaks ++ Seq(
          ("assembly.dedup.unique_ratio", uniqueRatio, "ratio"),
          ("assembly.refine.edge_yield", edgeYield, "ratio"),
          ("assembly.gap_s", Bench.median(traced) / 1e3 - spanWall, "s"),
          ("trace.overhead_frac",
            Bench.median(traced) / Bench.median(ops.drop(1)) - 1.0, "ratio"),
          ("trace.ops", (ops.size + traced.size).toDouble, "count"))
      }
    Outcome(setupS, Bench.median(ops), Bench.quantile(ops, 0.95), ops.size / wall,
      attempted = ops.size + traced.size, failed = failed, layers = layers,
      cacheMb = base.mb)
  }

  /** `Pipeline.run`'s composition, one span per stage. Returns the built
    * layer, the unique-statement ratio and the refinement edge yield. */
  private def tracedBuild(ctx: Ctx, dump: PrincipalDump)
      : (ReadonlyTables, Double, Double) = {
    val tr = ctx.tracer
    def forced(name: String)(df: => DataFrame): DataFrame =
      tr.span(name) {
        val d = df.localCheckpoint(false)
        Bench.checksum(d)
        d
      }
    val raw = forced("assembly.distill") {
      dump.rawStatements.join(
        Distill.dropReadings(dump.readings).withColumnRenamed("rid", "reading_id"),
        Seq("reading_id"), "left_anti")
    }
    val parsed = forced("assembly.parse") {
      Preassembly.partitionValid(Preassembly.parse(raw))._1
        .withColumn("stype", col("stmt.type"))
    }
    val uniq = forced("assembly.dedup") {
      Preassembly.dedup(parsed).select("mk_hash", "raw_stmt_id", "stype", "stmt")
    }
    val srcCounts = forced("assembly.source_counts")(Preassembly.sourceCounts(parsed))
    val agents = forced("assembly.agents")(Preassembly.agentRows(uniq))
    val (edges, closure) = tr.span("assembly.refine") {
      val e = Pipeline.refinementEdges(uniq, agents).localCheckpoint(true)
      val c = Refinement.transitiveClosure(e)
      Bench.checksum(c)
      (e, c)
    }
    val belief = forced("assembly.belief") {
      Belief.scoreWithRefinements(srcCounts.select("mk_hash", "src_json"), closure)
        .select(col("mk_hash"), col("belief"))
    }
    val ro = tr.span("assembly.readonly") {
      val readingRefs = dump.readings.select("rid", "trid").join(dump.textRefs, "trid")
      val evidence = parsed.select(
        col("raw_stmt_id").as("sid"), col("mk_hash"), col("src"),
        coalesce(col("reading_id"), -col("raw_stmt_id")).as("rid"))
        .join(readingRefs.select(col("rid").as("rid_join"), col("pmid")),
          col("rid") === col("rid_join"), "left")
        .select(col("sid"), col("mk_hash"), col("src"), col("rid"),
          coalesce(col("pmid"), lit(-1L)).as("pmid"))
      val mesh = evidence.select("sid", "pmid").join(dump.meshAnnotations, "pmid")
        .select("sid", "mesh_num", "is_concept")
      val statements = uniq
        .select(col("mk_hash"), col("stype"), to_json(col("stmt")).as("pa_json"),
          col("stmt.activity").as("activity"), col("stmt.is_active").as("is_active"))
        .join(belief, "mk_hash")
      val world = StatementWorld(statements, evidence, agents, mesh,
        evidence.select(col("rid"), col("pmid")).distinct()
          .join(dump.readings.select(col("rid"), col("trid")), Seq("rid"), "left")
          .select(col("rid"), col("pmid"), col("trid"),
            lit(null).cast("long").as("tcid"),
            lit(null).cast("long").as("pmcid_num"),
            lit(null).cast("long").as("doi_ns"),
            lit(null).cast("string").as("doi_id")))
      ReadonlyBuilder.build(ctx.spark, world, types, Data.readerSources,
        Data.dbSources, complexTypeNum = types.toNum.get("Complex"))
        .materializeAll()
    }
    // counts read off the forced stage outputs, outside every span
    val uniqueRatio = uniq.count().toDouble / math.max(1L, parsed.count())
    val keys = agents.groupBy("mk_hash").agg(array_sort(collect_set(
      concat(col("db_name"), lit(":"), col("db_id")))).as("keys"))
    val blocked = uniq.select("mk_hash", "stype").join(keys, "mk_hash")
      .withColumn("block_key", explode(col("keys")))
    val candidates = Refinement.candidatePairs(blocked, Seq("stype", "block_key"))
      .select("a_mk_hash", "b_mk_hash").distinct().count()
    val edgeYield = edges.count().toDouble / math.max(1L, candidates)
    (ro, uniqueRatio, edgeYield)
  }
}
