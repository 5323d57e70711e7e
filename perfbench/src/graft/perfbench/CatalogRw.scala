package graft.perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.functions.col
import graft.api.Session
import graft.rel.Rel

/** `catalog_rw`: writes beside reads on one `api.Session` catalog.
  *
  * `acct` is a plain relvar and `ledger` a bucketed one (by `id`). The op
  * stream repeats one cycle: each write (insert, updateWhere and
  * deleteWhere on `acct`; insertBucketed and updateWhere on `ledger`) is
  * followed by a read (a point/range read or a join read), and the cycle
  * ends with `maintainLayout`. The seed picks the rows, ranges and
  * amounts. Every read is compared with a driver-side model that applied
  * the same mutations; after the window the whole catalog is compared,
  * then saved, reopened with `Session.open(spark, dir)` and compared again. */
final class CatalogRw(ctx: Ctx) extends Workload {
  import CatalogRw._

  /** The cycle of calls; an op's kind (what latency medians are taken
    * over) is its class in [[kindOf]], so that the every-8th-version
    * materialization of a plain relvar lands inside one kind wherever it
    * falls in the cycle. Reads of the two relvars are separate kinds:
    * they run at different speeds, and a kind must not mix them in a
    * proportion that depends on where the window ends. */
  private val calls: Seq[String] = Seq("insert", "plain_read", "update", "join_read",
    "delete", "plain_read", "bucketed_update", "bucketed_read", "bucketed_insert",
    "join_read", "maintain")
  private def kindOf(call: String): String = call match {
    case "insert" | "update" | "delete" => "plain_write"
    case "bucketed_insert" | "bucketed_update" => "bucketed_write"
    case other => other
  }
  val mix: Seq[String] = calls.map(kindOf)
  val cycleSeconds = 5.0
  private val callOf = mutable.Map.empty[Int, String]
  private var session: Session = _
  // the model: id → (grp, value, tag)
  private val acct = mutable.Map.empty[Long, (Long, Double, String)]
  private val ledger = mutable.Map.empty[Long, (Long, Double, String)]
  private var nextId = 0L
  private val expected = mutable.Map.empty[Int, Set[Seq[Any]]]
  private val changedBytes = mutable.Map.empty[Int, Double]
  private var saveMs, loadMs = 0.0

  private def rowBytes(tag: String): Double = 8 + 8 + 8 + tag.length

  private def fresh(r: java.util.SplittableRandom, n: Int): Seq[(Long, Long, Double, String)] =
    Seq.fill(n) {
      nextId += 1
      (nextId, r.nextLong(Groups), r.nextInt(0, 100000).toDouble, s"t${r.nextInt(1000000)}")
    }

  private def rel(rows: Seq[(Long, Long, Double, String)], value: String): Rel = {
    import ctx.spark.implicits._
    Rel.distinct(rows.toDF("id", "grp", value, "tag"))
  }

  def sizes: Seq[Size] = Seq(Size("acct_rows_initial", AcctRows),
    Size("ledger_rows_initial", LedgerRows), Size("ledger_buckets", Buckets),
    Size("groups", Groups), Size("rows_per_insert", InsertRows))

  def prepare(): Unit = {
    val r = ctx.rng(4)
    session = Session.open(ctx.spark)
    val a = fresh(r, AcctRows)
    val l = fresh(r, LedgerRows)
    a.foreach { case (id, g, v, t) => acct(id) = (g, v, t) }
    l.foreach { case (id, g, v, t) => ledger(id) = (g, v, t) }
    session.setValue("acct", rel(a, "bal"))
    session.catalog.defineBucketed("ledger", rel(l, "amt"), Seq("id"), Buckets)
  }

  /** Ops mutate the model when they are made, which is just before they
    * run, so every read's expected rows reflect all earlier writes. */
  def op(i: Int): Op = {
    val call = calls(Math.floorMod(i, calls.size))
    val kind = kindOf(call)
    callOf(i) = call
    val r = ctx.rng(5000 + i)
    val cat = session.catalog
    def some(m: mutable.Map[Long, _]): Long = m.keys.iterator.drop(r.nextInt(m.size)).next()
    def note(bytes: Double): Unit = changedBytes(i) = bytes
    call match {
      case "insert" | "bucketed_insert" =>
        val rows = fresh(r, InsertRows)
        val (m, name, value) = if (call == "insert") (acct, "acct", "bal") else (ledger, "ledger", "amt")
        rows.foreach { case (id, g, v, t) => m(id) = (g, v, t) }
        note(rows.map(x => rowBytes(x._4)).sum)
        Op(kind, () => if (call == "insert") cat.insert(name, rel(rows, value))
          else cat.insertBucketed(name, rel(rows, value)))
      case "update" | "bucketed_update" =>
        val (m, name, value) = if (call == "update") (acct, "acct", "bal") else (ledger, "ledger", "amt")
        val lo = some(m)
        val hi = lo + UpdateSpan
        val delta = r.nextInt(1, 1000).toDouble
        val hit = m.keys.filter(id => id >= lo && id < hi).toSeq
        hit.foreach { id => val (g, v, t) = m(id); m(id) = (g, v + delta, t) }
        note(hit.map(id => rowBytes(m(id)._3)).sum)
        Op(kind, () => cat.updateWhere(name, col("id") >= lo && col("id") < hi,
          value -> (col(value) + delta)))
      case "delete" =>
        val lo = some(acct)
        val hi = lo + DeleteSpan
        val hit = acct.keys.filter(id => id >= lo && id < hi).toSeq
        note(hit.map(id => rowBytes(acct(id)._3)).sum)
        hit.foreach(acct.remove)
        Op(kind, () => cat.deleteWhere("acct", col("id") >= lo && col("id") < hi))
      case "plain_read" | "bucketed_read" =>
        val (m, name) = if (call == "plain_read") (acct, "acct") else (ledger, "ledger")
        val lo = some(m)
        val hi = lo + ReadSpan
        expected(i) = m.collect { case (id, (g, v, t)) if id >= lo && id < hi =>
          Seq[Any](id, g, v, t) }.toSet
        Op(kind, () => session.getValue(name).where(col("id") >= lo && col("id") < hi)
          .df.collect().map(_.toSeq).toSet)
      case "join_read" =>
        val g = r.nextLong(Groups)
        val ls = ledger.collect { case (id, (gg, v, _)) if gg == g => (id, v) }
        expected(i) = (for ((id, (gg, b, _)) <- acct if gg == g; (lid, amt) <- ls)
          yield Seq[Any](id, lid, b + amt)).toSet
        Op(kind, () => {
          val a = session.getValue("acct").where(col("grp") === g).project("id", "grp", "bal")
          val l = session.getValue("ledger").where(col("grp") === g)
            .rename("id" -> "lid").project("lid", "grp", "amt")
          a.join(l).df.select(col("id"), col("lid"), col("bal") + col("amt"))
            .collect().map(_.toSeq).toSet
        })
      case "maintain" =>
        // the bucketed update rewrites one file per bucket and the insert
        // after it adds one more, so every maintain call folds: its cost
        // does not depend on where the window happens to end
        note(0.0)
        Op(kind, () => cat.maintainLayout("ledger", maxFilesPerBucket = 1))
    }
  }

  private def rows(name: String, s: Session = session): Set[Seq[Any]] =
    s.getValue(name).df.select("id", "grp", if (name == "acct") "bal" else "amt", "tag")
      .collect().map(_.toSeq).toSet

  private def model(m: mutable.Map[Long, (Long, Double, String)]): Set[Seq[Any]] =
    m.map { case (id, (g, v, t)) => Seq[Any](id, g, v, t) }.toSet

  def check(recs: Seq[Rec]): Seq[String] = {
    val reads = recs.filter(r => r.error == null && expected.contains(r.i)).flatMap { r =>
      val got = r.result.asInstanceOf[Set[Seq[Any]]]
      val want = expected(r.i)
      if (got == want) None
      else Some(s"op ${r.i} (${r.kind}): ${got.size} rows, model ${want.size}")
    }
    val dir = new File(ctx.dir, "catalog").getPath
    val state = Seq("acct" -> acct, "ledger" -> ledger).flatMap { case (n, m) =>
      if (rows(n) == model(m)) None else Some(s"final $n differs from the model") }
    val s0 = System.nanoTime()
    session.save(dir)
    saveMs = (System.nanoTime() - s0) / 1e6
    val l0 = System.nanoTime()
    val reopened = Session.open(ctx.spark, dir)
    loadMs = (System.nanoTime() - l0) / 1e6
    val after = Seq("acct" -> acct, "ledger" -> ledger).flatMap { case (n, m) =>
      if (rows(n, reopened) == model(m)) None else Some(s"reloaded $n differs from the model") }
    reopened.close()
    reads ++ state ++ after
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  override def extraEndToEnd(recs: Seq[Rec], ok: Seq[Rec]): Map[String, (Double, String)] = {
    val writes = ok.filter(r => changedBytes.contains(r.i) && r.kind != "maintain")
    val reads = ok.filter(r => expected.contains(r.i))
    val writeOps = ok.filter(r => changedBytes.contains(r.i))
    // space: what the catalog keeps on disk against its live rows written fresh
    val onDisk = dirBytes(new File(ctx.dir, "warehouse")) + dirBytes(new File(ctx.dir, "history"))
    val freshDir = new File(ctx.dir, "fresh")
    Seq("acct", "ledger").foreach(n =>
      session.getValue(n).df.write.parquet(new File(freshDir, n).getPath))
    Map(
      "read_p50_ms" -> (Main.median(reads.map(_.ms)), "ms"),
      "write_p50_ms" -> (Main.median(writes.map(_.ms)), "ms"),
      "write_amp" -> (writeOps.map(_.layer.getOrElse("output_bytes", 0.0)).sum /
        writeOps.map(r => changedBytes(r.i)).sum, "ratio"),
      "space_amp" -> (onDisk.toDouble / dirBytes(freshDir), "ratio"))
  }

  override def layers(recs: Seq[Rec]): Map[String, Double] = {
    def med(calls: String*) = Main.median(recs.filter(r => calls.contains(callOf(r.i))).map(_.ms))
    val stats = session.catalog.layoutStats("ledger")
    Map(
      "catalog.insert_ms" -> med("insert", "bucketed_insert"),
      "catalog.update_ms" -> med("update", "bucketed_update"),
      "catalog.delete_ms" -> med("delete"),
      "catalog.compact_ms" -> med("maintain"),
      "catalog.save_ms" -> saveMs,
      "catalog.load_ms" -> loadMs,
      "catalog.versions" -> (session.catalog.version("acct") + session.catalog.version("ledger")).toDouble,
      "sources.files_per_bucket" -> stats.maxFilesPerBucket.toDouble,
      "sources.superseded_bytes" -> stats.supersededBytes.toDouble)
  }

  override def finish(): Unit = session.close()
}

object CatalogRw {
  val AcctRows = 2000
  val LedgerRows = 20000
  val Buckets = 4
  val Groups = 200L
  val InsertRows = 50
  val UpdateSpan = 40
  val DeleteSpan = 10
  val ReadSpan = 30
}
