package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.mr.Job
import graft.sources.Catalog
import graft.verify.Canon

/** analytics_mix: the twelve BASELINE.md query shapes and two MapReduce
  * programs, in a seeded order with seeded parameters, over seeded tables
  * at sf0.02. Each result's canonical hash is reported; `perfbench/oracle.py`
  * recomputes it with DuckDB at the same parameters. The window ends on a
  * whole round of the fourteen entries. */
final class AnalyticsMix(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import AnalyticsMix._
  import spark.implicits._

  private val rng = new java.util.SplittableRandom(seed)
  private var order = IndexedSeq.empty[String]
  /** (entry, params, hash, rows) for every timed execution. */
  val executions = mutable.ArrayBuffer.empty[(String, Map[String, String], String, Int)]
  var dataDir = ""

  /** The tables are written by `perfbench/tables.py` (DuckDB), which the
    * oracle shares; generation is timed here all the same. */
  def generate(dir: String): Unit = {
    val code = scala.sys.process.Process(Seq("python3", "perfbench/tables.py",
      "--seed", seed.toString, "--sf", sf.toString, "--out", dir)).!
    require(code == 0, s"table generation exited $code")
    dataDir = dir
  }

  /** A full registration each time: the catalog tables are dropped and the
    * registration marker cleared, so every repeat creates and ANALYZEs all
    * ten tables. */
  def register(dir: String): Unit = {
    spark.conf.unset("spark.graft.catalog.dir")
    Catalog.tableNames.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t}__files`"))
    tr.span("sources.register")(Catalog.register(spark, dir))
  }

  private def draw(): Map[String, String] = Map(
    "segment" -> segments(rng.nextInt(segments.size)),
    "region" -> regions(rng.nextInt(regions.size)),
    "cutoff" -> java.time.LocalDate.of(1998, 6, 1).plusDays(rng.nextInt(120)).toString)

  /** Runs one entry and returns its rows in result order. */
  private def run(entry: String, p: Map[String, String]): Seq[Row] =
    tr.span(s"mix.$entry") {
      entry match {
        case "mr_wordcount" => tr.span("mr.job") {
          Job.of(spark.table("documents").select("text").as[String])
            .flatMap(_.split(" ").iterator).map(w => (w, 1L))
            .pairs[String, Long].reduceByKey(_ + _).collect()
        }.sortBy { case (w, c) => (-c, w) }.map { case (w, c) => Row(w, c) }.toSeq
        case "mr_supplier_revenue" => tr.span("mr.job") {
          Job.of(spark.table("lineitem")
              .where(col("l_shipdate") <= lit(p("cutoff")).cast("timestamp_ntz"))
              .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
              .as[(Long, Double, Double)]
              .map { case (s, price, disc) => (s, math.round(price * 100) * (100 - math.round(disc * 100))) })
            .keyBy(_._1).reduceByKey((a, b) => (a._1, a._2 + b._2)).collect()
        }.map { case (s, (_, rev)) => (s, rev) }.sortBy(_._1).map { case (s, r) => Row(s, r) }.toSeq
        case q => tr.span("plan.sql")(spark.sql(sql(q, p))).collect().toSeq
      }
    }

  /** Rounds of the mix run before the window opens. Round time keeps
    * falling for several rounds while the JIT compiles Spark's planner:
    * by about half after the first, by about a tenth a round after the
    * third. */
  def warmup(): Unit = (0 until warmupRounds).foreach(_ => shuffle(entries).foreach(e => run(e, draw())))

  override def roundSize: Int = entries.size
  /** Two samples of every entry, so the median does not rest on one
    * execution of the entries in the middle. */
  override def minRounds: Int = 2

  def op(i: Int): Op = {
    if (i % entries.size == 0) order = shuffle(entries)
    val entry = order(i % entries.size)
    val p = draw()
    val rows = run(entry, p)
    Op(entry, 1.0, () => {
      executions += ((entry, p, Canon.sha16(rows.map(Canon.canonRow)), rows.size))
      true
    })
  }

  private def shuffle(xs: Seq[String]): IndexedSeq[String] = {
    val a = xs.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  override def perLayer(ops: Seq[(Op, Double)]): Map[String, Double] =
    entries.map { e =>
      s"mix.${e}_p50_s" -> Main.median(ops.collect { case (o, t) if o.label == e => t })
    }.toMap

  override def details: Seq[(String, Any)] = Seq(
    "data_dir" -> dataDir, "sf" -> sf,
    "executions" -> executions.map { case (e, p, h, n) =>
      Map("entry" -> e, "params" -> p, "hash" -> h, "rows" -> n) })
}

object AnalyticsMix {
  val sf = 0.02
  val warmupRounds = 3
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val rev =
    "round(cast(sum(cast(l.l_extendedprice as decimal(18,4))*cast(1-l.l_discount as decimal(18,4))) as double),4)"

  /** Spark SQL of the twelve query shapes; `{segment}`, `{region}` and
    * `{cutoff}` are the seeded parameters. */
  val queries: Seq[(String, String)] = Seq(
    "q_agg_tpch1" ->
      """select l_returnflag, l_linestatus,
         round(cast(sum(cast(l_quantity as decimal(18,4))) as double),4) sq,
         round(cast(sum(cast(l_extendedprice as decimal(18,4))) as double),4) sp,
         round(cast(sum(cast(l_extendedprice as decimal(18,4))*cast(1-l_discount as decimal(18,4))) as double),4) net,
         count(*) c
         from lineitem where l_shipdate <= timestamp '{cutoff} 00:00:00'
         group by l_returnflag, l_linestatus order by l_returnflag, l_linestatus""",
    "q_join3_topk" ->
      s"""select o.o_orderkey, $rev rev
         from customer c join orders o on c.c_custkey=o.o_custkey
         join lineitem l on l.l_orderkey=o.o_orderkey
         where c.c_mktsegment='{segment}'
         group by o.o_orderkey order by rev desc, o.o_orderkey limit 10""",
    "q_join5" ->
      s"""select n.n_name, $rev rev
         from region r join nation n on n.n_regionkey=r.r_regionkey
         join customer c on c.c_nationkey=n.n_nationkey
         join orders o on o.o_custkey=c.c_custkey
         join lineitem l on l.l_orderkey=o.o_orderkey
         where r.r_name='{region}'
         group by n.n_name order by rev desc, n.n_name""",
    "q_wordcount" ->
      """select w, count(*) c from (select explode(split(text,' ')) w from documents) t
         group by w order by c desc, w limit 20""",
    "q_cosine_topk" ->
      """select g.vec_id, round(cosine_sim(p.embedding, g.embedding),6) sim
         from embeddings g join embeddings p on p.vec_id=0
         order by sim desc, g.vec_id limit 10""",
    "q_window_run" ->
      """select o_orderkey, o_custkey,
         round(sum(o_totalprice) over (partition by o_custkey order by o_orderdate, o_orderkey rows between unbounded preceding and current row),2) run,
         row_number() over (partition by o_custkey order by o_orderdate, o_orderkey) rn
         from orders order by o_custkey, rn limit 100""",
    "q_tumble" ->
      """select date_trunc('hour', ts) w, event_type, count(*) c,
         round(cast(sum(cast(value as decimal(18,4))) as double),4) v
         from events group by date_trunc('hour', ts), event_type order by w, event_type""",
    "q_distinct" ->
      """select count(distinct o_custkey) a, count(distinct o_orderpriority) b, count(distinct o_orderstatus) c from orders""",
    "q_rollup" ->
      """select l_returnflag f, l_linestatus s, count(*) c from lineitem
         group by rollup(l_returnflag, l_linestatus) order by f nulls first, s nulls first""",
    "q_sort_limit" ->
      """select l_orderkey, l_linenumber, l_extendedprice from lineitem
         order by l_extendedprice desc, l_orderkey, l_linenumber limit 50""",
    "q_json" ->
      """select cast(get_json_object(props,'$.k') as int) k, count(*) c,
         round(cast(sum(cast(value as decimal(18,4))) as double),4) v
         from events group by cast(get_json_object(props,'$.k') as int) order by k limit 20""",
    "q_dedup" ->
      """select count(*) dup_groups from (
         select md5(substr(text,1,16)) h from documents group by md5(substr(text,1,16)) having count(*) > 1) t""")

  val entries: Seq[String] = queries.map(_._1) ++ Seq("mr_wordcount", "mr_supplier_revenue")

  def sql(entry: String, p: Map[String, String]): String =
    p.foldLeft(queries.find(_._1 == entry).get._2) { case (s, (k, v)) => s.replace(s"{$k}", v) }
}
