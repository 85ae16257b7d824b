package layerbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.core.Engine
import graft.io.ExcelSource
import graft.sql.{QueryGate, QueryStats, TableSql}

/** Short templated SELECTs over the star schema and `events`, plus
  * CSV and Excel table-SQL and planted non-SELECT statements. Results
  * are checked against DuckDB after the run.
  */
object SqlStar {

  final case class Op(kind: String, sql: String) // kind: star | csv | xlsx | reject

  val Rejected: IndexedSeq[String] = IndexedSeq(
    "DROP TABLE lineitem",
    "INSERT INTO region VALUES (9, 'NOWHERE')",
    "SELECT 1; DROP TABLE orders",
    "CREATE TABLE t AS SELECT * FROM region",
    "DELETE FROM orders WHERE o_orderkey = 1",
    "WITH x AS (SELECT 1 AS a) INSERT INTO nation SELECT a, 'N', 0 FROM x")

  /** The op cycle: each star-schema template twice, two CSV ops, one
    * Excel op and one planted statement, interleaved so that every
    * prefix of a run holds nearly the same mix (the median then does
    * not move with where the window happens to end).
    */
  private val Cycle: IndexedSeq[String] = {
    val half = IndexedSeq("t0", "t1", "t2", "t3", "csv", "t4", "t5", "t6", "t7")
    (half :+ "xlsx") ++ (half :+ "reject")
  }

  def op(seed: Long, i: Long): Op =
    template(Cycle(math.floorMod(i, Cycle.size.toLong).toInt), Gen.rng(seed, s"sqlop$i"))

  /** The set-up's warm-up: a join and one CSV and one Excel op. */
  def warmup(seed: Long): Seq[Op] =
    Seq("t1", "csv", "xlsx").map(k => template(k, Gen.rng(seed, s"sqlwarm$k")))

  private def template(kind: String, r: Gen.Rng): Op =
    kind match {
      case "t0" =>
        val d1 = r.between(0, 5); val d2 = d1 + r.between(1, 5)
        Op("star", s"SELECT l_returnflag, l_shipmode, COUNT(*) AS n, SUM(l_quantity) AS q, " +
          s"AVG(l_extendedprice) AS avgp FROM lineitem WHERE l_discount BETWEEN 0.0$d1 AND " +
          s"${d2 / 100.0} AND l_quantity < ${r.between(10, 50)} " +
          "GROUP BY l_returnflag, l_shipmode ORDER BY l_returnflag, l_shipmode")
      case "t1" =>
        val y = r.between(1992, 1997); val m = r.between(1, 12)
        Op("star", s"SELECT n_name, COUNT(*) AS orders, SUM(o_totalprice) AS revenue " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          f"WHERE o_orderdate >= DATE '$y-$m%02d-01' AND o_orderdate < DATE '${y + 1}-$m%02d-01' " +
          "GROUP BY n_name ORDER BY n_name")
      case "t2" =>
        Op("star", s"SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
          s"WHERE o_orderpriority = '${r.pick(Gen.Priorities)}' AND o_orderstatus = " +
          s"'${r.pick(IndexedSeq("F", "O", "P"))}' " +
          s"ORDER BY o_totalprice DESC, o_orderkey LIMIT ${r.between(5, 50)}")
      case "t3" =>
        Op("star", s"SELECT p_brand, COUNT(*) AS n, MAX(p_retailprice) AS mx FROM part " +
          s"WHERE p_name LIKE '%${r.pick(Gen.PartWords).take(4)}%' GROUP BY p_brand ORDER BY p_brand")
      case "t4" =>
        Op("star", s"SELECT user_id, event_id, value, rn FROM (SELECT user_id, event_id, value, " +
          "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn " +
          s"FROM events WHERE kind = '${r.pick(Gen.EventKinds)}' AND user_id < ${r.between(20, 80)}) t " +
          s"WHERE rn <= ${r.between(1, 3)} ORDER BY user_id, rn")
      case "t5" =>
        Op("star", s"SELECT s_nationkey, COUNT(DISTINCT l_orderkey) AS n FROM lineitem " +
          s"JOIN supplier ON l_suppkey = s_suppkey WHERE l_shipmode = '${r.pick(Gen.ShipModes)}' " +
          s"AND s_acctbal > ${r.between(0, 8000)} GROUP BY s_nationkey ORDER BY s_nationkey")
      case "t6" =>
        Op("star", s"SELECT c_mktsegment, COUNT(*) AS n, AVG(c_acctbal) AS bal FROM customer " +
          s"WHERE c_nationkey IN (${r.int(25)}, ${r.int(25)}, ${r.int(25)}) " +
          "GROUP BY c_mktsegment ORDER BY c_mktsegment")
      case "t7" =>
        // more rows than the 1000-row cap: exercises truncation
        Op("star", s"SELECT c_custkey, c_name, c_acctbal FROM customer " +
          s"WHERE c_acctbal > ${r.between(-999, 2000)} ORDER BY c_custkey")
      case "csv" =>
        Op("csv", s"SELECT region, COUNT(*) AS n, SUM(amount) AS total FROM data " +
          s"WHERE qty >= ${r.between(1, 30)} GROUP BY region ORDER BY region")
      case "xlsx" =>
        Op("xlsx", s"SELECT region, COUNT(*) AS n, SUM(CAST(amount AS DOUBLE)) AS total " +
          s"FROM data WHERE CAST(qty AS INT) >= ${r.between(1, 30)} GROUP BY region ORDER BY region")
      case "reject" => Op("reject", r.pick(Rejected))
    }
}

final class SqlStar extends Workload {
  val name = "sql_star"
  private val recorded = mutable.ArrayBuffer.empty[String]
  private var inputRows = 0L
  private def csvPath(ctx: Ctx) = s"${ctx.dir}/sales.csv"
  private def xlsxPath(ctx: Ctx) = s"${ctx.dir}/sales.xlsx"

  def generate(ctx: Ctx): Unit = {
    new File(ctx.dir).mkdirs()
    val tables = Gen.star(ctx.seed)
    tables.foreach(t => Tables.write(ctx, t))
    inputRows = tables.map(_.rows.size.toLong).sum
    val sales = Gen.sales(ctx.seed)
    Files.write(Paths.get(csvPath(ctx)), Gen.salesCsv(sales))
    Files.write(Paths.get(xlsxPath(ctx)), Gen.salesXlsx(sales))
  }

  def setup(ctx: Ctx): Unit = {
    ctx.phase("core.open_s")(Engine.open(ctx.spark, ctx.dir))
    // warm-up: one op of each kind, unrecorded
    ctx.phase("bench.warmup_s") {
      SqlStar.warmup(ctx.seed).zipWithIndex.foreach { case (op, i) => run(ctx, -1L - i, op, record = false) }
    }
  }

  def window(ctx: Ctx, seconds: Double, firstOp: Long): Window =
    ctx.closedLoop(seconds, firstOp)(i => run(ctx, i, SqlStar.op(ctx.seed, i), record = true))

  private def run(ctx: Ctx, opId: Long, op: SqlStar.Op, record: Boolean): Stats.Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    op.kind match {
      case "reject" =>
        try {
          t.span("sql", "sql.gate")(QueryGate.sql(spark, op.sql))
          Stats.Failed(s"planted statement was accepted: ${op.sql}")
        } catch {
          case _: QueryGate.RejectedQuery =>
            ctx.count("sql.rejected", 1)
            Stats.RejectedAsExpected
        }
      case kind =>
        val df = kind match {
          case "star" => t.span("sql", "sql.gate")(QueryGate.sql(spark, op.sql))
          case "csv" => t.span("io", "io.csv_read")(TableSql.csvSql(spark, csvPath(ctx), op.sql))
          case "xlsx" => t.span("io", "io.excel_read")(ExcelSource.excelSql(spark, xlsxPath(ctx), op.sql))
        }
        t.span("sql", "sql.plan")(df.queryExecution.executedPlan)
        val (stats, rows) = t.span("sql", "sql.exec") {
          val s = QueryStats.run(df, 1000)
          (s, s.rows.collect())
        }
        ctx.count("sql.scanned_bytes", stats.scannedBytes.toDouble)
        if (record) recorded.synchronized {
          recorded += Json.obj(Seq("op" -> opId, "kind" -> kind, "sql" -> op.sql,
            "truncated" -> stats.truncated, "columns" -> df.columns.toSeq,
            "rows" -> rows.toSeq))
        }
        if (rows.length != stats.rowCount) Stats.Failed("row count mismatch")
        else Stats.Ok
    }
  }

  override def results: Seq[String] = recorded.synchronized(recorded.toSeq)

  def bytesPerDoc(ctx: Ctx): Double = {
    val tables = Engine.TableNames.map(t => new File(s"${ctx.dir}/$t.parquet")).filter(_.exists())
    tables.map(f => Main.dirBytes(f)._2).sum.toDouble / inputRows
  }
}

/** Writing generated tables as parquet, one file per table. */
object Tables {
  def write(ctx: Ctx, t: Gen.Table): Unit = {
    val spark = ctx.spark
    val path = s"${ctx.dir}/${t.name}.parquet"
    spark.createDataFrame(spark.sparkContext.parallelize(t.rows, 1), t.schema)
      .write.mode("overwrite").parquet(path)
  }
}
