package graft.perfbench

import org.apache.spark.sql.Row

/** An expected double that the program rounds to four places: equal within
  * one unit of the last place, since the program's floating-point sum and
  * an exact decimal mean may fall on different sides of a rounding tie.
  */
final case class Approx(d: Double)

/** Row comparison for the answer checks. Actual rows come from the program;
  * expected rows are computed in plain Scala from the in-memory inputs.
  */
object Check {
  def norm(v: Any): Any = v match {
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case i: Int => i.toLong
    case other => other
  }

  def rowOf(r: Row): Seq[Any] = (0 until r.length).map(i => norm(r.get(i)))

  private def same(a: Any, e: Any): Boolean = e match {
    case Approx(d) => a match {
      case x: Double => math.abs(x - d) <= 1.0001e-4
      case _ => false
    }
    case _ => a == e
  }

  /** None when `actual` equals `expected` row for row and in order. */
  def rows(what: String, actual: Seq[Seq[Any]], expected: Seq[Seq[Any]]): Option[String] =
    if (actual.length != expected.length)
      Some(s"$what: ${actual.length} rows, expected ${expected.length}")
    else actual.iterator.zip(expected.iterator).zipWithIndex.collectFirst {
      case ((a, e), i) if a.length != e.length || !a.iterator.zip(e.iterator).forall { case (x, y) => same(x, y) } =>
        s"$what: row $i is ${a.mkString("(", ",", ")")}, expected ${e.mkString("(", ",", ")")}"
    }

  /** Decimal mean rounded half-up to four places, as the program states it. */
  def avg4(values: Seq[Double]): Approx =
    Approx((values.map(v => BigDecimal(v)).sum / values.length)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** Perturb one answer the way a wrong program would, for the self-test. */
  def perturb(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    if (rows.isEmpty) Seq(Seq("spurious"))
    else rows.updated(0, rows.head.map {
      case d: Double => d + 0.5
      case l: Long => l + 1
      case Approx(d) => Approx(d + 0.5)
      case other => other
    })
}
