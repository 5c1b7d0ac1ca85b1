package graft

import org.apache.spark.sql.SparkSession

/** One local session shared per suite. */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  lazy val session: SparkSession = Sessions("local[4]", 8)
}
