package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs: one JVM-wide session from
  * [[Sessions.local]].
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Order-insensitive comparison of full contents. */
  def assertSameRows(actual: DataFrame, expected: Seq[Seq[Any]]): Unit = {
    val a = rowsOf(actual).map(_.map(String.valueOf)).sortBy(_.mkString("|"))
    val e = expected.map(_.map(String.valueOf)).sortBy(_.mkString("|"))
    assert(a == e)
  }
}

object SparkSpec {
  /** The configuration `Bench` and `Verify` run under, at 4 cores so
    * the suite's shuffles stay small. */
  lazy val session: SparkSession = Sessions.local(4)
}
