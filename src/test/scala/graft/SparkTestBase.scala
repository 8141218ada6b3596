package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, sequential suites). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val SfDir = "/root/testdata/sf0.001"
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  def sfDir: String = SparkTestSession.SfDir

  /** Run `body` with `spark.sql.ansi.enabled` set to `on`, then restore it. */
  def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** `body` run twice: first through generated code only (whole-stage
    * codegen on, `factoryMode=CODEGEN_ONLY`), then interpreted only
    * (whole-stage codegen off, `NO_CODEGEN`). Both settings are restored.
    */
  def inCodegenModes[T](body: => T): (T, T) = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    def run(values: Seq[String]): T = {
      val prev = keys.map(spark.conf.get)
      keys.zip(values).foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally keys.zip(prev).foreach { case (k, v) => spark.conf.set(k, v) }
    }
    (run(Seq("true", "CODEGEN_ONLY")), run(Seq("false", "NO_CODEGEN")))
  }
}
