package perfbench

import org.scalatest.funsuite.AnyFunSuite

class KvModelSpec extends AnyFunSuite {
  private val regionOf = (0L until 25L).map(n => n -> n % 5).toMap
  private def seeded = new KvModel(
    (1L to 300L).map(k => k -> KvRow(k % 25, KvStream.Segments((k % 5).toInt))), regionOf)

  /** Draws `blocks` blocks from a fresh stream, applying every statement's
    * effect, as the benchmark does after the engine ran it. */
  private def replay(seed: Long, blocks: Int): (KvModel, Seq[Stmt]) = {
    val m = seeded
    val s = new KvStream(seed, 600L)
    val stmts = (1 to blocks).flatMap(_ => s.block()).map { k =>
      val st = s.draw(k, m); st.effect(m); st
    }
    (m, stmts)
  }

  /** Applies the SQL text of a write stream to a model, independently of
    * the shadow's own effects. */
  private def interpret(stmts: Seq[Stmt]): KvModel = {
    val m = seeded
    val Ins = """(?:INSERT|REPLACE) INTO kv VALUES \((\d+), (\d+), '(\w+)'\)""".r
    val Del = """DELETE FROM kv WHERE k = (\d+)""".r
    val Set = """SET @v = (\d+)""".r
    def one(sql: String, into: KvModel): Unit = sql.trim match {
      case Ins(k, v, s) => into.rows(k.toLong) = KvRow(v.toLong, s)
      case Del(k) => into.rows -= k.toLong
      case Set(v) => into.at = v.toLong
      case _ =>
    }
    stmts.foreach { st =>
      if (st.statements > 1) {
        val parts = st.sql.split(";").map(_.trim)
        if (parts.last == "COMMIT") parts.foreach(one(_, m))
      } else one(st.sql, m)
    }
    m
  }

  test("the same seed gives the same statements") {
    assert(replay(7, 5)._2.map(_.sql) == replay(7, 5)._2.map(_.sql))
    assert(replay(7, 5)._2.map(_.sql) != replay(8, 5)._2.map(_.sql))
  }

  test("every block has the mix's composition") {
    val (_, stmts) = replay(3, 4)
    assert(stmts.grouped(KvStream.Mix.size).forall(_.map(_.kind).sorted == KvStream.Mix.sorted))
  }

  test("replaying the statement text reproduces the shadow's final state") {
    for (seed <- 1L to 20L) {
      val (m, stmts) = replay(seed, 10)
      val fromSql = interpret(stmts)
      assert(fromSql.rows == m.rows, s"seed $seed")
      assert(fromSql.at == m.at, s"seed $seed")
    }
  }

  test("writes never collide: inserts take absent keys, deletes and replaces present ones") {
    val m = seeded
    val s = new KvStream(11, 600L)
    for (_ <- 1 to 20; k <- s.block()) {
      val st = s.draw(k, m)
      val key = """k = (\d+)|VALUES \((\d+)""".r.findFirstMatchIn(st.sql)
        .map(x => Option(x.group(1)).getOrElse(x.group(2)).toLong)
      k match {
        case "insert" => assert(!m.rows.contains(key.get))
        case "replace" | "delete" => assert(m.rows.contains(key.get))
        case _ =>
      }
      st.effect(m)
    }
  }

  test("the table keeps its seeded size") {
    for (seed <- 1L to 10L)
      assert(math.abs(replay(seed, 30)._1.rows.size - 300) <= 3)
  }

  test("a rolled-back transaction changes nothing, a committed one its three rows") {
    val m = seeded
    val s = new KvStream(5, 600L)
    val before = m.rows.clone()
    s.draw("txn_rollback", m).effect(m)
    assert(m.rows == before)
    val c = s.draw("txn_commit", m)
    assert(c.changed == 3 && c.statements == 5)
    c.effect(m)
    assert(m.rows != before)
  }

  test("query expectations match a brute-force evaluation") {
    val (m, _) = replay(9, 5)
    m.at = 120
    val s = new KvStream(1, 600L)
    val range = s.draw("range", m)
    assert(range.expected.get == m.rows.toSeq.filter { case (k, _) => k >= 120 && k < 140 }
      .map { case (k, r) => s"$k|${r.v}|${r.s}" }.sorted)
    val agg = s.draw("join_agg", m)
    val lo = """BETWEEN (\d+) AND""".r.findFirstMatchIn(agg.sql).get.group(1).toLong
    val brute = m.rows.toSeq.filter { case (k, _) => k >= lo && k < lo + KvStream.AggWidth }
      .groupBy { case (_, r) => regionOf(r.v) }
      .map { case (g, rs) => s"$g|${rs.size}|${rs.map(_._1).sum}" }.toSeq.sorted
    assert(agg.expected.get == brute)
  }
}
