package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.Assertions._

/** Row-set equality for the equivalence specs: the same columns and, after
  * a canonical sort, the same rows — doubles compared with `close`, every
  * other value equal. */
object RowEquivalence {
  def sameRows(got: DataFrame, ref: DataFrame, what: String)(close: (Double, Double) => Boolean): Unit = {
    assert(got.schema.fieldNames.toSeq == ref.schema.fieldNames.toSeq, s"$what columns")
    def canon(df: DataFrame) = df.collect().toSeq.map(_.toSeq).sortBy(_.map {
      case d: Double => f"$d%.6e"
      case x => String.valueOf(x)
    }.mkString("\u0001"))
    val (g, r) = (canon(got), canon(ref))
    assert(g.size == r.size, s"$what: ${g.size} rows vs reference ${r.size}")
    g.zip(r).foreach { case (gr, rr) =>
      gr.zip(rr).zip(got.schema.fieldNames).foreach {
        case ((a: Double, b: Double), f) => assert(close(a, b), s"$what.$f: $a vs $b\n$gr\n$rr")
        case ((a, b), f) => assert(a == b, s"$what.$f: $a vs $b\n$gr\n$rr")
      }
    }
  }
}
