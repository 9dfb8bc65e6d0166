package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Per-suite session lifecycle for specs: one [[Graft.session]] — the
  * config the correctness gate and the benchmark run under (extensions,
  * ANSI on, UTC, nanosAsLong) — built before the suite's first test and
  * stopped after its last. A suite with more set-up overrides
  * `beforeAll` and calls `super.beforeAll()` first. */
trait SparkSpec extends BeforeAndAfterAll { this: Suite =>
  private var session: SparkSession = _
  protected def spark: SparkSession = session

  override def beforeAll(): Unit = {
    super.beforeAll()
    session = Graft.session("local[4]", 4)
    session.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit =
    try if (session != null) session.stop()
    finally super.afterAll()
}
