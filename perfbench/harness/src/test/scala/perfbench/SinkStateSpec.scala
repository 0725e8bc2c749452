package perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class SinkStateSpec extends AnyFunSuite {
  private def touch(f: File): File = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, Array[Byte](1, 2, 3))
    f
  }

  test("the suffix is the one QShared.sink gives the data dir") {
    val dir = "/data/bench/sf0.1"
    val (root, suffix) = SinkState.of(dir)
    assert(new File(root, "bucketed_x" + suffix).getPath ==
      graft.queries.QShared.sink(dir, "bucketed_x"))
    assert(suffix == "_" + Integer.toHexString(dir.hashCode))
  }

  test("clear removes this dir's entries and their locks, and nothing of other dirs") {
    val root = Files.createTempDirectory("sink").toFile
    try clearKeepsOtherDirs(root)
    finally Workload.rmTree(root.getPath)
  }

  private def clearKeepsOtherDirs(root: File): Unit = {
    val mine = "_" + Integer.toHexString("/a".hashCode)
    val other = "_" + Integer.toHexString("/b".hashCode)
    touch(new File(root, s"bucketed_lineitem$mine/part-0.parquet"))
    touch(new File(root, s"bucketed_lineitem$mine.lock"))
    touch(new File(root, s"s5_roundtrip_write$mine/_SUCCESS"))
    touch(new File(root, s"bucketed_lineitem$other/part-0.parquet"))
    touch(new File(root, s"bucketed_lineitem$other.lock"))
    // a name that merely contains the suffix is not an entry of this dir
    touch(new File(root, s"x${mine}y/part-0.parquet"))
    val before = SinkState.others(root, mine)

    val removed = SinkState.clear(root, mine)

    assert(removed.toSet == Set(s"bucketed_lineitem$mine", s"bucketed_lineitem$mine.lock",
      s"s5_roundtrip_write$mine"))
    assert(SinkState.owned(root, mine).isEmpty)
    assert(SinkState.others(root, mine) == before)
    assert(root.list().toSet == Set(s"bucketed_lineitem$other", s"bucketed_lineitem$other.lock",
      s"x${mine}y"))
  }
}
