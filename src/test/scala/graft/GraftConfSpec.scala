package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SPARK_GRAFT_INITIAL_PARTITIONS parse: which values reach the AQE
  * `initialPartitionNum` conf, which leave it unset, and which fail.
  */
class GraftConfSpec extends AnyFunSuite {
  import GraftConf.initialPartitions

  test("unset, empty and zero leave initialPartitionNum unset") {
    assert(initialPartitions(None).isEmpty)
    assert(initialPartitions(Some("")).isEmpty)
    assert(initialPartitions(Some("  ")).isEmpty)
    assert(initialPartitions(Some("0")).isEmpty)
  }

  test("a positive count sets initialPartitionNum") {
    assert(initialPartitions(Some("2048")).contains(2048))
    assert(initialPartitions(Some(" 2048 ")).contains(2048))
  }

  test("a non-numeric value fails naming the variable") {
    val e = intercept[IllegalArgumentException](initialPartitions(Some("abc")))
    assert(e.getMessage.contains("SPARK_GRAFT_INITIAL_PARTITIONS"))
    assert(e.getMessage.contains("'abc'"))
  }
}
