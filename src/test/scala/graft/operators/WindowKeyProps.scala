package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, timestamp_seconds}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.SparkTestBase
import graft.model.ParsedFields
import graft.oracle.RefOracle

/** The engine's event-time window key (ParseStage.timeWindowCol, evaluated
  * by Spark) against the oracle's java.time rendering of the same instant.
  */
object WindowKeyProps extends Properties("graft.operators.windowKey") {

  // each trial is one Spark job over 500 samples
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(20)

  private val windows = Seq(1, 5, 10, 15, 30, 60)
  private val minSec = LocalDate.of(1, 1, 1).toEpochDay * 86400L
  private val maxSec = LocalDate.of(9999, 12, 31).toEpochDay * 86400L + 86399L

  private val sample: Gen[(java.lang.Long, Int)] = for {
    sec <- Gen.chooseNum(minSec, maxSec)
    off <- Gen.chooseNum(-64800, 64800)
  } yield (java.lang.Long.valueOf(sec), off)

  private val schema = StructType(Seq(StructField("sec", LongType), StructField("off", IntegerType)))

  private def oracle(sec: java.lang.Long, off: Int, w: Int): Long = {
    val p = ParsedFields("", "", "", "", Option(sec).map(s => new java.sql.Timestamp(s * 1000L)), off,
      "", "", "", "", "", "", "", 0L, "", None, 0, "")
    RefOracle.timeWindow(p, w)
  }

  property("timeWindowCol == RefOracle.timeWindow over years 0001-9999, offsets within ±18 h, every window size, null log_ts") =
    forAll(Gen.listOfN(500, sample)) { samples =>
      val spark = SparkTestBase.session
      val input = (null: java.lang.Long, 3600) +: samples
      val df = spark.createDataFrame(
        java.util.Arrays.asList(input.map { case (s, o) => Row(s, o) }: _*), schema)
        .repartition(2) // executed by generated code, not folded on the driver
        .select(col("sec") +: col("off") +: windows.map(w =>
          ParseStage.timeWindowCol(timestamp_seconds(col("sec")), col("off"), w)): _*)
      val rows = df.collect().toSeq
      val bad = rows.flatMap { r =>
        val sec = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
        windows.zipWithIndex.collect {
          case (w, i) if r.getLong(2 + i) != oracle(sec, r.getInt(1), w) =>
            s"sec=$sec off=${r.getInt(1)} w=$w engine=${r.getLong(2 + i)} oracle=${oracle(sec, r.getInt(1), w)}"
        }
      }
      val nullKey = rows.find(_.isNullAt(0)).get.getLong(2)
      (Prop(bad.isEmpty) :| bad.take(5).mkString("; ")) && (Prop(nullKey == 101010000L) :| s"null → $nullKey")
    }
}
