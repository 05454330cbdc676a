package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingConf

/** Shared local session for all suites (one JVM-wide session — Spark
  * session startup dominates suite time otherwise). It writes streaming
  * checkpoints through the engine's fork-free local file system, as a
  * `StreamingConf.applyTo` session does; the state-store and broadcast
  * entries stay with the suites that call `applyTo`. */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(StreamingConf.checkpointFs)
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf: String = SparkSpec.sf
}
