package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Where operators stage intermediate files: the driver-local temp
 * directory is a fallback for local mode only. */
class ScratchDirSpec extends AnyFunSuite {

  test("an explicit graft.scratch.dir wins on any master") {
    assert(Ops.scratchDir(Some("hdfs:///shared/tmp"), localMaster = false) ==
      "hdfs:///shared/tmp")
    assert(Ops.scratchDir(Some("/data/tmp"), localMaster = true) == "/data/tmp")
  }

  test("a local master falls back to java.io.tmpdir") {
    assert(Ops.scratchDir(None, localMaster = true) == sys.props("java.io.tmpdir"))
  }

  test("a non-local master without graft.scratch.dir fails, naming the setting") {
    val e = intercept[IllegalStateException](Ops.scratchDir(None, localMaster = false))
    assert(e.getMessage.contains("graft.scratch.dir"))
  }
}
