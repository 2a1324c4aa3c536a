package graft.ingest

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  /** Pinned at 4 slots: spec parallelism must not follow SPARK_GRAFT_CPUS. */
  lazy val session: SparkSession = graft.Harness.session(4)
}
