package graft

/** Console-answer comparison across plans. Double aggregates may differ
  * in the last bits when a different plan sums in a different order, so
  * numeric lines compare with a 1e-9 relative tolerance; every other
  * line compares exactly. Rows compare as multisets. */
object Answers {
  def same(a: Seq[String], b: Seq[String]): Boolean =
    a.size == b.size && a.sorted.zip(b.sorted).forall { case (x, y) =>
      x == y || ((num(x), num(y)) match {
        case (Some(u), Some(v)) =>
          math.abs(u - v) <= 1e-9 * math.max(1.0, math.abs(u))
        case _ => false
      })
    }

  private def num(line: String): Option[Double] =
    line.stripPrefix("=>").toDoubleOption
}
