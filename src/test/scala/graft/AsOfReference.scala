package graft

import graft.core.VersionedTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** The as-of join in plain Scala, for specs to compare graft's operators
  * against. It collects both sides and answers each probe by scanning its
  * key's versions, so it shares no planning or execution code with graft:
  *  - a version with a NULL key or NULL time matches nothing;
  *  - a probe with a NULL key or NULL time gets NULL values under `left`
  *    and is dropped under `inner`;
  *  - otherwise the probe takes the version with the greatest time `<=` its
  *    own (`<` when exclusive); among versions tied at that time, the last
  *    one in collected order wins.
  * The result has the probes' columns, then the value columns (nullable).
  */
object AsOfReference {

  def apply(
      probes: DataFrame,
      probeKey: String,
      asOfTime: String,
      vt: VersionedTable,
      inclusive: Boolean = true,
      joinType: String = "left"): DataFrame = {
    require(Seq("left", "inner").contains(joinType), s"joinType=$joinType")
    def cmp(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)
    val versions = vt.df.select((vt.keyCol +: vt.timeCol +: vt.valueCols).map(vt.df.col): _*)
      .collect().filter(v => !v.isNullAt(0) && !v.isNullAt(1)).groupBy(_.get(0))
    val (ki, ti) = (probes.schema.fieldIndex(probeKey), probes.schema.fieldIndex(asOfTime))
    val rows = probes.collect().toSeq.flatMap { p =>
      val visible =
        if (p.isNullAt(ki) || p.isNullAt(ti)) Array.empty[Row]
        else versions.getOrElse(p.get(ki), Array.empty[Row]).filter { v =>
          val c = cmp(v.get(1), p.get(ti))
          c < 0 || (inclusive && c == 0)
        }
      val latest = visible.foldLeft(Option.empty[Row]) { (best, v) =>
        if (best.forall(b => cmp(v.get(1), b.get(1)) >= 0)) Some(v) else best
      }
      latest match {
        case Some(v) => Some(Row.fromSeq(p.toSeq ++ v.toSeq.drop(2)))
        case None if joinType == "left" => Some(Row.fromSeq(p.toSeq ++ vt.valueCols.map(_ => null)))
        case None => None
      }
    }
    val valueFields = vt.valueCols.map(c => vt.df.schema(c).copy(nullable = true))
    probes.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), StructType(probes.schema.fields ++ valueFields))
  }
}
