package graft.perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import graft.api.HttpGateway
import graft.lang.{AndlInterp, AndlParser}

/** `relq`: interactive relational reads through the HTTP gateway.
  *
  * Each op POSTs one Andl script from a fixed template family (natural
  * join, semijoin beside antijoin, union/minus, restrict+project, grouped
  * fold, ordered running fold, ordered take) with seeded constants, then GETs
  * the bounded `result` relvar back as JSON. In every cycle of the seven
  * templates `RepeatsPerCycle` ops, at positions the seed picks, repeat an
  * earlier script of the same template word for word; fixing their number
  * keeps the share, and with it the latency, from varying with the seed.
  * The tables have the row counts of the sf0.1 test data and are generated
  * from the seed as CSV files, which one set-up script POSTed to the
  * gateway binds with the language's `csv` source; the DuckDB oracle
  * (run.py) reads the same files. */
final class Relq(ctx: Ctx) extends Workload {
  import Relq._

  val mix: Seq[String] = templates
  val cycleSeconds = 8.0
  private val http = HttpClient.newHttpClient()
  private val gw = { val g = new HttpGateway(ctx.spark); g.start(); g }
  private val base = s"http://127.0.0.1:${gw.boundPort}/api"
  private val db = "db"
  private var direct: AndlInterp = _
  private var csvBytes = Map.empty[String, Double]
  // the scripts of earlier ops (warm-up included), per template, for repeats
  private val history = mutable.Map.empty[String, mutable.ArrayBuffer[(String, String)]]
  private val sqlOf = mutable.Map.empty[Int, String]
  private var repeats = 0

  def sizes: Seq[Size] = Seq(Size("region_rows", 5), Size("nation_rows", 25),
    Size("supplier_rows", Suppliers), Size("customer_rows", Customers),
    Size("orders_rows", Orders), Size("repeats_per_cycle", RepeatsPerCycle),
    Size("templates_per_cycle", templates.size)) ++
    Seq("customer", "orders").map(t => Size(s"${t}_csv_bytes", csvBytes(t), 32L << 20,
      "under broadcast"))

  /** The gateway's interpreter reads `csv` sources relative to the JVM's
    * working directory, which is the run directory. */
  def prepare(): Unit = {
    csvBytes = generate(ctx.rng(1)).map { case (name, csv) =>
      val bytes = csv.getBytes(UTF_8)
      Files.write(new File(ctx.dir, s"$name.csv").toPath, bytes)
      name -> bytes.length.toDouble
    }.toMap
    expectOk(send("POST", s"/$db", bindScript))
  }

  private def expectOk(r: (Int, String)): String = {
    require(r._1 == 200, s"HTTP ${r._1}: ${r._2.take(300)}")
    r._2
  }

  private def send(method: String, path: String, body: String): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
    val req = method match {
      case "GET" => b.GET().build()
      case "DELETE" => b.DELETE().build()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body)).build()
    }
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  /** The positions of cycle `c` whose ops repeat an earlier script. */
  private def repeatsIn(c: Int): Set[Int] = {
    val r = ctx.rng(7000 + c)
    val pos = (0 until templates.size).toArray
    for (k <- pos.indices.reverse) { // Fisher-Yates
      val j = r.nextInt(k + 1)
      val t = pos(k); pos(k) = pos(j); pos(j) = t
    }
    pos.take(RepeatsPerCycle).toSet
  }

  def op(i: Int): Op = {
    val kind = templates(Math.floorMod(i, templates.size))
    val r = ctx.rng(1000 + i)
    val past = history.getOrElseUpdate(kind, mutable.ArrayBuffer.empty)
    val isRepeat = i >= 0 && repeatsIn(i / templates.size)(i % templates.size)
    val (script, sql) =
      if (isRepeat && past.nonEmpty) {
        repeats += 1
        past(r.nextInt(past.size))
      } else render(kind, r)
    past += ((script, sql))
    if (i >= 0) sqlOf(i) = sql
    Op(kind, () => {
      expectOk(send("POST", s"/$db", script))
      Reply(script, expectOk(send("GET", s"/$db/result", "")))
    })
  }

  /** Each op's SQL and reply go to `relq_results.jsonl`; run.py runs the
    * SQL in DuckDB over the same rows and compares, so the check here is
    * only that every reply is a JSON array. */
  def check(recs: Seq[Rec]): Seq[String] = {
    val lines = recs.filter(_.error == null).map { rec =>
      val body = rec.result.asInstanceOf[Reply].body
      Json.obj("i" -> rec.i, "kind" -> rec.kind, "sql" -> sqlOf(rec.i),
        "rows" -> Json.RawJson(body)).s
    }
    Files.write(new File(ctx.dir, "relq_results.jsonl").toPath,
      lines.mkString("", "\n", "\n").getBytes(UTF_8))
    recs.filter(r => r.error == null &&
        !r.result.asInstanceOf[Reply].body.startsWith("["))
      .map(r => s"op ${r.i} (${r.kind}): reply is not a row array")
  }

  override def extraEndToEnd(recs: Seq[Rec], ok: Seq[Rec]): Map[String, (Double, String)] =
    Map("repeat_share" -> (repeats.toDouble / math.max(1, recs.size), "ratio"),
      "read_p50_ms" -> (Main.median(ok.map(_.ms)), "ms"))

  /** Traced run, after the timed op: the same script parsed alone, then
    * run and fetched on an interpreter of its own that binds the same
    * files, then sent through the gateway once more. The op ran the script
    * first, so both of these runs are warm (codegen cache, JIT) and
    * neither carries the first run's compile cost; the gateway's own work
    * (HTTP, routing, reply encoding) is the second round trip minus the
    * direct run and fetch, read as 0 when noise makes it negative. */
  override def traceOp(rec: Rec): Map[String, Double] = {
    if (rec.error != null) return Map.empty
    if (direct == null) {
      direct = new AndlInterp(ctx.spark, ".")
      direct.run(bindScript, "relq-bind")
    }
    def since(t: Long) = (System.nanoTime() - t) / 1e6
    val script = rec.result.asInstanceOf[Reply].script
    val p0 = System.nanoTime()
    AndlParser.parse(script, "relq")
    val parseMs = since(p0)
    val m = ctx.trace.mark()
    val r0 = System.nanoTime()
    direct.run(script, "relq")
    val runMs = since(r0)
    val jobs = ctx.trace.since(m).getOrElse("jobs", 0.0)
    val f0 = System.nanoTime()
    direct.relvar("result").toJSON.take(1 << 20)
    val fetchMs = since(f0)
    val g0 = System.nanoTime()
    expectOk(send("POST", s"/$db", script))
    expectOk(send("GET", s"/$db/result", ""))
    val gatewayMs = since(g0)
    Map("lang.parse_ms" -> parseMs, "lang.run_ms" -> runMs,
      "lang.jobs_in_run" -> jobs,
      "api.request_ms" -> math.max(0.0, gatewayMs - runMs - fetchMs),
      "api.reply_bytes" -> rec.result.asInstanceOf[Reply].body.length.toDouble)
  }

  override def layers(recs: Seq[Rec]): Map[String, Double] =
    Seq("lang.parse_ms", "lang.run_ms", "lang.jobs_in_run", "api.request_ms",
      "api.reply_bytes").map { k =>
      k -> Main.median(recs.flatMap(_.layer.get(k)))
    }.toMap

  override def finish(): Unit = gw.stop()
}

object Relq {
  // the row counts of the sf0.1 test data
  val Suppliers = 1000
  val Customers = 15000
  val Orders = 150000
  val RepeatsPerCycle = 2

  val templates: Seq[String] = Seq("join", "semi_anti", "setops", "restrict",
    "fold", "running", "take")

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val statuses = Seq("F", "O", "P")

  final case class Reply(script: String, body: String)

  val tables: Seq[String] = Seq("region", "nation", "supplier", "customer", "orders")

  /** Binds every table to its CSV file in the working directory. */
  val bindScript: String = tables.map(t => s"var $t(csv)").mkString("\n")

  /** The tables as CSV files whose header gives each column's Andl type.
    * Money columns hold whole numbers, so sums are exact in doubles and
    * both engines agree to the last digit; no text field has a comma. */
  def generate(r: java.util.SplittableRandom): Seq[(String, String)] = {
    def rows(header: String, n: Int)(row: Int => String): String = {
      val sb = new StringBuilder(header).append('\n')
      (0 until n).foreach(i => sb.append(row(i)).append('\n'))
      sb.toString
    }
    Seq(
      "region" -> rows("r_regionkey:number,r_name", 5)(i => s"$i,REGION_$i"),
      "nation" -> rows("n_nationkey:number,n_name,n_regionkey:number", 25)(i =>
        s"$i,NATION_$i,${i % 5}"),
      "supplier" -> rows("s_suppkey:number,s_name,s_nationkey:number,s_acctbal:number",
        Suppliers)(i => f"${i + 1},Supplier#$i%09d,${r.nextInt(25)},${r.nextInt(-999, 10000)}"),
      "customer" -> rows("c_custkey:number,c_name,c_nationkey:number,c_acctbal:number," +
        "c_mktsegment", Customers)(i => f"${i + 1},Customer#$i%09d,${r.nextInt(25)}," +
        s"${r.nextInt(-999, 10000)},${segments(r.nextInt(5))}"),
      "orders" -> rows("o_orderkey:number,o_custkey:number,o_orderstatus," +
        "o_totalprice:number,o_orderpriority", Orders)(i =>
        s"${i + 1},${r.nextInt(Customers) + 1},${statuses(r.nextInt(3))}," +
          s"${r.nextInt(1000, 500000)},${priorities(r.nextInt(5))}"))
  }

  /** One template instance: the Andl script and the DuckDB SQL it must
    * agree with. Andl numbers are doubles, hence the casts. */
  def render(kind: String, r: java.util.SplittableRandom): (String, String) = {
    val nat = r.nextInt(25)
    val reg = r.nextInt(5)
    val bal = r.nextInt(0, 9000)
    val price = r.nextInt(300000, 490000)
    val cust = r.nextInt(1, Customers - 50)
    val prio = priorities(r.nextInt(5))
    val status = statuses(r.nextInt(3))
    val n = r.nextInt(5, 50)
    kind match {
      case "join" => (
        "ns := nation .{ c_nationkey := n_nationkey, n_name, n_regionkey }\n" +
          s"result := (customer join ns) .where(n_regionkey = $reg and c_acctbal > $bal) .{ c_custkey, c_name, n_name }",
        "SELECT DISTINCT CAST(c_custkey AS DOUBLE) AS c_custkey, c_name, n_name " +
          "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
          s"WHERE n_regionkey = $reg AND c_acctbal > $bal")
      case "semi_anti" =>
        val nat2 = (nat + 1 + r.nextInt(24)) % 25
        (s"big := orders .where(o_totalprice > $price) .{ c_custkey := o_custkey }\n" +
          s"result := ((customer semijoin big) .where(c_nationkey = $nat) .{ c_custkey, c_name }) union " +
          s"((customer ajoin big) .where(c_nationkey = $nat2) .{ c_custkey, c_name })",
          "SELECT CAST(c_custkey AS DOUBLE) AS c_custkey, c_name FROM customer " +
            s"WHERE c_nationkey = $nat AND c_custkey IN " +
            s"(SELECT o_custkey FROM orders WHERE o_totalprice > $price) UNION " +
            "SELECT CAST(c_custkey AS DOUBLE) AS c_custkey, c_name FROM customer " +
            s"WHERE c_nationkey = $nat2 AND c_custkey NOT IN " +
            s"(SELECT o_custkey FROM orders WHERE o_totalprice > $price)")
      case "setops" => (
        s"result := ((customer .where(c_nationkey = $nat) .{ k := c_custkey }) union " +
          s"(supplier .where(s_nationkey = $nat) .{ k := s_suppkey })) minus " +
          s"(customer .where(c_acctbal < $bal) .{ k := c_custkey })",
        "SELECT CAST(k AS DOUBLE) AS k FROM (" +
          s"(SELECT c_custkey AS k FROM customer WHERE c_nationkey = $nat UNION " +
          s"SELECT s_suppkey FROM supplier WHERE s_nationkey = $nat) EXCEPT " +
          s"SELECT c_custkey FROM customer WHERE c_acctbal < $bal)")
      case "restrict" => (
        s"result := orders .where(o_custkey >= $cust and o_custkey < ${cust + 40} and " +
          s"o_orderpriority = '$prio') .{ o_orderkey, o_custkey, o_totalprice }",
        "SELECT CAST(o_orderkey AS DOUBLE) AS o_orderkey, CAST(o_custkey AS DOUBLE) AS o_custkey, " +
          s"o_totalprice FROM orders WHERE o_custkey >= $cust AND o_custkey < ${cust + 40} " +
          s"AND o_orderpriority = '$prio'")
      case "fold" => (
        s"result := orders .where(o_orderstatus = '$status' and o_custkey >= $cust and " +
          s"o_custkey < ${cust + 50}) .{ o_custkey, total := fold(+, o_totalprice), cnt := fold(+, 1) }",
        "SELECT CAST(o_custkey AS DOUBLE) AS o_custkey, CAST(SUM(o_totalprice) AS DOUBLE) AS total, " +
          s"CAST(COUNT(*) AS DOUBLE) AS cnt FROM orders WHERE o_orderstatus = '$status' " +
          s"AND o_custkey >= $cust AND o_custkey < ${cust + 50} GROUP BY o_custkey")
      case "running" => (
        s"result := orders .where(o_custkey >= $cust and o_custkey < ${cust + 8}) " +
          ".order(o_orderkey) .{ o_orderkey, run := fold(+, o_totalprice) }",
        "SELECT CAST(o_orderkey AS DOUBLE) AS o_orderkey, " +
          "CAST(SUM(o_totalprice) OVER (ORDER BY o_orderkey) AS DOUBLE) AS run " +
          s"FROM orders WHERE o_custkey >= $cust AND o_custkey < ${cust + 8}")
      case "take" => (
        s"result := orders .where(o_orderpriority = '$prio') .order(o_totalprice, o_orderkey) " +
          s".take($n) .{ o_orderkey, o_totalprice }",
        "SELECT CAST(o_orderkey AS DOUBLE) AS o_orderkey, o_totalprice FROM orders " +
          s"WHERE o_orderpriority = '$prio' ORDER BY o_totalprice, o_orderkey LIMIT $n")
    }
  }
}
