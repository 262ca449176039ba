package graft.sources

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under the `droprace` scheme whose listings run a
 * hook right after they return — the seam that makes a listing race
 * (a DROP PARTITION landing between a parent's listing and its
 * child's) deterministic. */
class DropRaceFileSystem extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("droprace:///")
}) {
  override def getScheme: String = "droprace"
  override def listStatus(p: Path): Array[FileStatus] = {
    val out = super.listStatus(p)
    DropRaceFileSystem.afterList(p)
    out
  }
}

object DropRaceFileSystem {
  @volatile var afterList: Path => Unit = _ => ()
}

class PartitionWalkSpec extends AnyFunSuite {

  test("a partition dropped between the root listing and its own lists as empty") {
    val base = Files.createTempDirectory("scbf-walk-race").toString
    val conf = new Configuration()
    conf.set("fs.droprace.impl", classOf[DropRaceFileSystem].getName)
    conf.setBoolean("fs.droprace.impl.disable.cache", true)
    Seq("k=1", "k=2", "k=3").foreach { d =>
      new java.io.File(s"$base/$d").mkdirs()
      new java.io.File(s"$base/$d/f.scbf").createNewFile()
    }
    val victim = new java.io.File(s"$base/k=2")
    // the DROP lands right after the root is listed, once
    DropRaceFileSystem.afterList = p =>
      if (p.toUri.getPath == base && victim.exists()) {
        new java.io.File(victim, "f.scbf").delete()
        victim.delete()
      }
    try {
      val files = ScbfDataSource.resolveFiles(Seq(s"droprace://$base"), conf)
      assert(!victim.exists(), "the race hook never fired")
      assert(files.map(f => f.getPath.getParent.getName) == Seq("k=1", "k=3"))
    } finally DropRaceFileSystem.afterList = _ => ()
  }

  test("the listing record stops at its cap, and clear() starts it again") {
    ScbfPartitions.listedDirs.clear()
    try {
      (0 until ScbfPartitions.ListedDirsCap + 5).foreach(i =>
        ScbfPartitions.recordListing(new Path(s"/d$i")))
      assert(ScbfPartitions.listedDirs.size == ScbfPartitions.ListedDirsCap)
      assert(ScbfPartitions.listedDirs.peek() == "/d0")
      ScbfPartitions.listedDirs.clear()
      ScbfPartitions.recordListing(new Path("/again"))
      assert(ScbfPartitions.listedDirs.toArray.toSeq == Seq("/again"))
    } finally ScbfPartitions.listedDirs.clear()
  }
}
