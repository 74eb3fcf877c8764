package perfbench

import scala.collection.mutable

/** One row of the sql_session table `kv (k BIGINT PRIMARY KEY, v BIGINT,
  * s VARCHAR)`; `v` is a nation key, so `kv` joins `nation`. */
final case class KvRow(v: Long, s: String)

/** In-benchmark shadow of `kv` and of the session variable `@v`: the
  * expected result of every statement of the sql_session stream. */
final class KvModel(init: Iterable[(Long, KvRow)], regionOf: Map[Long, Long]) {
  val rows: mutable.TreeMap[Long, KvRow] = mutable.TreeMap.empty[Long, KvRow] ++= init
  var at: Long = 1L

  def copy(): KvModel = { val m = new KvModel(rows, regionOf); m.at = at; m }

  /** Rows with `lo <= k < hi`, rendered as [[Digest.row]] renders them. */
  def select(lo: Long, hi: Long): Seq[String] =
    rows.range(lo, hi).map { case (k, r) => s"$k|${r.v}|${Digest.render(r.s)}" }
      .toSeq.sorted

  /** `n_regionkey|count(*)|sum(k)` over the rows with `lo <= k < hi`. */
  def regionTotals(lo: Long, hi: Long): Seq[String] =
    rows.range(lo, hi).toSeq.groupBy { case (_, r) => regionOf(r.v) }
      .map { case (reg, rs) => s"$reg|${rs.size}|${rs.map(_._1).sum}" }
      .toSeq.sorted

  /** The table's full content, as `SELECT k, v, s FROM kv` renders it. */
  def content: Seq[String] = select(Long.MinValue, Long.MaxValue)
}

/** One statement (or, for a transaction, one script) of the stream.
  * `expected` is the sorted rendering of a query's rows; `effect`
  * applies a write to the shadow once the engine has run it. */
final case class Stmt(kind: String, sql: String, statements: Int,
    expected: Option[Seq[String]], changed: Int, effect: KvModel => Unit)

/** Seeded statement stream over a fixed key space `1..keySpace`.
  *
  * Operations come in blocks of [[KvStream.Mix]], shuffled per block,
  * so every block has the same read/write composition. Keys and values
  * are drawn when a statement is due, against the shadow's current
  * state: an INSERT always takes an absent key and a REPLACE or DELETE
  * a present one, so no statement fails and inserts balance deletes,
  * keeping the table at its seeded size.
  */
final class KvStream(seed: Long, keySpace: Long) {
  import KvStream._
  private val rng = new scala.util.Random(seed)

  def block(): Seq[String] = rng.shuffle(Mix)

  private def key(): Long = 1L + (rng.nextDouble() * keySpace).toLong

  private def keyWhere(ok: Long => Boolean): Long =
    Iterator.continually(key()).find(ok).get

  private def value(): KvRow =
    KvRow(rng.nextInt(25).toLong, Segments(rng.nextInt(Segments.size)))

  private def lit(k: Long, r: KvRow) = s"($k, ${r.v}, '${r.s}')"

  /** A write on `m`: its SQL, and its effect on a shadow. */
  private def write(kind: String, m: KvModel): (String, KvModel => Unit) =
    kind match {
      case "insert" =>
        val (k, r) = (keyWhere(!m.rows.contains(_)), value())
        (s"INSERT INTO kv VALUES ${lit(k, r)}", _.rows(k) = r)
      case "replace" =>
        val (k, r) = (keyWhere(m.rows.contains), value())
        (s"REPLACE INTO kv VALUES ${lit(k, r)}", _.rows(k) = r)
      case "delete" =>
        val k = keyWhere(m.rows.contains)
        (s"DELETE FROM kv WHERE k = $k", _.rows -= k)
    }

  def draw(kind: String, m: KvModel): Stmt = kind match {
    case "set" =>
      val x = key()
      Stmt(kind, s"SET @v = $x", 1, None, 0, _.at = x)
    case "point" =>
      val k = key()
      Stmt(kind, s"SELECT k, v, s FROM kv WHERE k = $k", 1,
        Some(m.select(k, k + 1)), 0, _ => ())
    case "range" =>
      Stmt(kind, s"SELECT k, v, s FROM kv WHERE k >= @v AND k < @v + $RangeWidth",
        1, Some(m.select(m.at, m.at + RangeWidth)), 0, _ => ())
    case "join_agg" =>
      val lo = 1L + (rng.nextDouble() * (keySpace - AggWidth)).toLong
      Stmt(kind,
        s"""SELECT n_regionkey, count(*) AS cnt, sum(k) AS sk
           |FROM kv JOIN nation ON kv.v = nation.n_nationkey
           |WHERE k BETWEEN $lo AND ${lo + AggWidth - 1}
           |GROUP BY n_regionkey""".stripMargin, 1,
        Some(m.regionTotals(lo, lo + AggWidth)), 0, _ => ())
    case "insert" | "replace" | "delete" =>
      val (sql, effect) = write(kind, m)
      Stmt(kind, sql, 1, None, 1, effect)
    case "txn_commit" | "txn_rollback" =>
      // draw the three writes in order against a scratch shadow, so
      // each sees the rows the ones before it wrote or removed
      val scratch = m.copy()
      val ws = Seq("insert", "replace", "delete").map { w =>
        val (sql, effect) = write(w, scratch); effect(scratch); (sql, effect)
      }
      val commit = kind == "txn_commit"
      val end = if (commit) "COMMIT" else "ROLLBACK"
      Stmt(kind, ws.map(_._1).mkString("BEGIN; ", "; ", s"; $end"), ws.size + 2,
        None, if (commit) ws.size else 0,
        sh => if (commit) ws.foreach(_._2(sh)))
  }
}

object KvStream {
  /** One block: 60% reads, 40% writes. */
  val Mix: Seq[String] =
    Seq.fill(2)("set") ++ Seq.fill(4)("point") ++ Seq.fill(3)("range") ++
      Seq.fill(3)("join_agg") ++ Seq.fill(2)("insert") ++
      Seq.fill(2)("replace") ++ Seq.fill(2)("delete") ++
      Seq("txn_commit", "txn_rollback")

  val RangeWidth = 20L
  val AggWidth = 200L
  val Segments: IndexedSeq[String] =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
}
