package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's inputs, generated in-engine from fixed hashes so every
  * run in every checkout sees byte-identical tables (the run seed only
  * re-orders and splits them; see the workloads). `run.py` has them
  * written once per checkout under `.bench_build/data`, by a process of
  * their own so that no measured run inherits its JIT warm-up, and removes
  * them when the sources change.
  *
  *   - `orders` / `lineitem`: the TPC-H-shaped tables [[graft.queries.TpchWorld]]
  *     maps onto a statement world (5 priorities, 1-7 lines per order,
  *     the five-column lineitem prefix unique per order);
  *   - `raw_statements` / `readings` / `text_refs` / `mesh`: a principal
  *     dump derived from `lineitem` — ~6.7 raw rows per unique statement,
  *     stale reading versions for Distill to drop, ~10% knowledge-base rows
  *     with no reading, and 2- and 3-member Complex statements so that
  *     refinement edges exist;
  *   - `layer/`: the readonly layer `ReadonlyBuilder` builds from the
  *     TPC-H world — what a service loads and serves.
  */
object Data {
  /** Orders in the statement world; lineitem is ~4x this. */
  val Orders = 3000L

  val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val stmtTypes = Seq("Phosphorylation", "Activation", "Inhibition", "Complex")
  val readerSources = Seq("reach", "sparser")
  val dbSources = Seq("signor")

  /** Deterministic pseudo-random integer in [0, m) from a key and a salt. */
  def h(key: Column, salt: Int, m: Long): Column =
    pmod(xxhash64(key, lit(salt)), lit(m))

  def dir(root: String): String = s"$root/.bench_build/data"

  /** The eleven readonly tables, in [[graft.querydsl.ReadonlyTables]] order. */
  val layerNames = Seq("nameMeta", "textMeta", "otherMeta", "sourceMeta",
    "meshTermMeta", "meshConceptMeta", "fastRawPaLink", "rawStmtMesh",
    "readingRefLink", "agentInteractions", "paAgents")

  /** The readonly layer of the TPC-H world, as the program built it when
    * this checkout's inputs were generated. */
  def layer(spark: SparkSession, d: String): graft.querydsl.ReadonlyTables = {
    val t = layerNames.map(n => spark.read.parquet(s"$d/layer/$n.parquet"))
    graft.querydsl.ReadonlyTables(t(0), t(1), t(2), t(3), t(4), t(5), t(6),
      t(7), t(8), t(9), t(10))
  }

  /** The inputs' directory, once they have been generated. */
  def ready(root: String): String = {
    val d = dir(root)
    require(new java.io.File(s"$d/_COMPLETE").exists,
      s"no generated inputs in $d: run perfbench/run.py, which generates them first")
    d
  }

  /** Generate every table, the readonly layer last. */
  def generate(spark: SparkSession, root: String): Unit = {
    val d = dir(root)
    orders(spark).write.mode("overwrite").parquet(s"$d/orders.parquet")
    lineitem(spark).write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val li = spark.read.parquet(s"$d/lineitem.parquet")
    Seq("raw_statements" -> rawStatements(li),
        "readings" -> readings(li),
        "text_refs" -> textRefs(li),
        "mesh" -> mesh(li)).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$d/$name.parquet")
    }
    val ro = graft.assembly.ReadonlyBuilder.build(spark,
      graft.queries.TpchWorld.world(spark, d), graft.queries.TpchWorld.types,
      graft.queries.TpchWorld.readerSources, graft.queries.TpchWorld.dbSources,
      complexTypeNum = Some(graft.queries.TpchWorld.complexTypeNum))
    layerNames.zip(ro.productIterator.toSeq).foreach { case (name, df: DataFrame) =>
      df.write.mode("overwrite").parquet(s"$d/layer/$name.parquet")
    }
    new java.io.File(s"$d/_COMPLETE").createNewFile()
  }

  private def orders(spark: SparkSession): DataFrame =
    spark.range(0, Orders, 1, 4).select(
      (col("id") + 1).as("o_orderkey"),
      (h(col("id"), 1, 15000) + 1).as("o_custkey"),
      element_at(lit(priorities.toArray), (h(col("id"), 2, 5) + 1).cast("int"))
        .as("o_orderpriority"))

  private def lineitem(spark: SparkSession): DataFrame = {
    val key = col("id") * 8 + col("ln")
    spark.range(0, Orders, 1, 4)
      .withColumn("ln", explode(sequence(lit(1L), h(col("id"), 3, 7) + 1)))
      .select(
        (col("id") + 1).as("l_orderkey"),
        (h(key, 4, 2000) + 1).as("l_partkey"),
        (h(key, 5, 100) + 1).as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        (h(key, 6, 10000000).cast("double") / 100.0).as("l_extendedprice"),
        element_at(lit(Array("A", "N", "R")), (h(key, 7, 3) + 1).cast("int"))
          .as("l_returnflag"),
        element_at(lit(Array("F", "O")), (h(key, 8, 2) + 1).cast("int"))
          .as("l_linestatus"))
  }

  // --- principal dump ------------------------------------------------------

  private def rawId(li: DataFrame): Column = li("l_orderkey") * 8 + li("l_linenumber")
  /** Papers: one per 20 raw rows. */
  private def papers: Long = Orders * 4 / 20

  /** Odd agent ids are grounded (HGNC); even ones carry only a name and
    * their text, so they land in name_meta and agent_interactions. */
  private def agent(id: Column): Column =
    concat(lit("{\"name\":\"G"), id.cast("string"),
      lit("\",\"db_refs\":{\""), when(id % 2 === 1, lit("HGNC")).otherwise(lit("TEXT")),
      lit("\":\""), id.cast("string"), lit("\"}}"))

  /** One raw statement per lineitem row. Content ids repeat ~6.7 times;
    * content id c picks the type (c % 4) and the agents. Complex contents
    * 8m+3 and 8m+7 share their first two members, and 8m+7 adds a third,
    * so it refines 8m+3. */
  def rawStatements(li: DataFrame): DataFrame = {
    val rows = Orders * 4
    val rid = rawId(li)
    val c = h(rid, 10, rows * 10 / 67)
    val a = h(c, 11, 3000)
    val b = h(c, 12, 3000)
    val m = floor(c / 8)
    val ca = h(m, 13, 3000)
    val cb = h(m, 14, 3000) + 3000
    val cd = h(c, 15, 3000) + 6000
    val json = when(c % 4 === 0, concat(lit("{\"type\":\"Phosphorylation\",\"enz\":"),
        agent(a), lit(",\"sub\":"), agent(b), lit("}")))
      .when(c % 4 === 1, concat(lit("{\"type\":\"Activation\",\"subj\":"),
        agent(a), lit(",\"obj\":"), agent(b), lit("}")))
      .when(c % 4 === 2, concat(lit("{\"type\":\"Inhibition\",\"subj\":"),
        agent(a), lit(",\"obj\":"), agent(b), lit("}")))
      .when(c % 8 === 3, concat(lit("{\"type\":\"Complex\",\"members\":["),
        agent(ca), lit(","), agent(cb), lit("]}")))
      .otherwise(concat(lit("{\"type\":\"Complex\",\"members\":["),
        agent(ca), lit(","), agent(cb), lit(","), agent(cd), lit("]}")))
    val kb = h(rid, 16, 10) === 0
    val trid = h(rid, 17, papers)
    val reader = h(rid, 18, 2)
    // rows of a paper with a stale reading cite it 1 time in 4
    val stale = trid % 3 === 0 && h(rid, 19, 4) === 0
    val readingId = trid * 4 + reader * 2 + when(stale, 0).otherwise(1)
    li.select(
      rid.as("raw_stmt_id"),
      when(kb, lit(null).cast("long")).otherwise(readingId).as("reading_id"),
      when(kb, h(rid, 20, 5) + 1).otherwise(lit(null).cast("long"))
        .as("db_info_id"),
      when(kb, lit("signor"))
        .otherwise(element_at(lit(readerSources.toArray), (reader + 1).cast("int")))
        .as("src"),
      json.as("raw_json"))
  }

  /** Two readers per paper; papers with trid % 3 == 0 also carry a stale
    * version 1 reading per reader. */
  def readings(li: DataFrame): DataFrame = {
    val spark = li.sparkSession
    spark.range(0, papers, 1, 4)
      .withColumn("reader", explode(sequence(lit(0L), lit(1L))))
      .withColumn("cur", explode(
        when(col("id") % 3 === 0, array(lit(0L), lit(1L))).otherwise(array(lit(1L)))))
      .select(
        (col("id") * 4 + col("reader") * 2 + col("cur")).as("rid"),
        col("id").as("trid"),
        element_at(lit(readerSources.toArray), (col("reader") + 1).cast("int"))
          .as("reader"),
        (col("cur") + 1).cast("double").as("reader_version"),
        lit("pubmed").as("source"),
        lit("abstract").as("text_type"))
  }

  def textRefs(li: DataFrame): DataFrame =
    li.sparkSession.range(0, papers, 1, 4)
      .select(col("id").as("trid"), (col("id") + 10000).as("pmid"))

  def mesh(li: DataFrame): DataFrame =
    li.sparkSession.range(0, papers, 1, 4)
      .withColumn("k", explode(sequence(lit(0L), h(col("id"), 21, 2))))
      .select((col("id") + 10000).as("pmid"),
        h(col("id") * 2 + col("k"), 22, 200).as("mesh_num"),
        (h(col("id") * 2 + col("k"), 22, 200) % 2).cast("int").as("is_concept"))
}
