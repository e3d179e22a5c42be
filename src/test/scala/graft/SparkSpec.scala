package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, Test/fork=true). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf = "/root/testdata/sf0.001"

  /** Runs `body` with the given session confs set, then restores them. */
  def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` on the interpreted path. Whole-stage codegen off alone
    * still compiles per-operator projections and predicates; NO_CODEGEN
    * makes them call the expressions' `eval`.
    */
  def interpreted[A](body: => A): A =
    withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  /** Runs `body` with generated code only: no fallback to `eval`. */
  def compiled[A](body: => A): A =
    withConfs("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(body)

  /** Runs `got` on [[compiled]] and on [[interpreted]]; fails naming every
    * leg whose result is not `want`.
    */
  def assertBothLegs[A](want: A, what: String)(got: => A): Unit = {
    val bad = Seq("generated code" -> compiled(got), "interpreted path" -> interpreted(got))
      .collect { case (leg, g) if g != want => leg }
    assert(bad.isEmpty, s"$what: ${bad.mkString(" and ")} diverged")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.local(4, "graft-test")
    graft.functions.GraftFunctions.register(s)
    s
  }
}
