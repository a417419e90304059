package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazily created). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf = "/root/testdata/sf0.001"

  /** Run `f` with the session conf keys `kvs` set, unsetting them after. */
  def withConf[A](kvs: (String, String)*)(f: => A): A = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** In-memory twin of graft.functions.Hashing.ratio4 — ONE model
    * definition across suites, kept in lockstep with the library. */
  def ratio4Model(num: Long, den: Long): Double =
    ((num * 10000L + den / 2) / den) / 10000.0
}
