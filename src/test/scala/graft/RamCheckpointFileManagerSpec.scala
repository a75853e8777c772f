package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.RamCheckpointFileManager

/** The RAM checkpoint manager keeps Hadoop's `createAtomic` contract:
  * without overwrite, the first writer to close owns the file. */
class RamCheckpointFileManagerSpec extends AnyFunSuite {

  test("createAtomic without overwrite: the second close throws, the first writer's bytes survive") {
    val root = s"/graft_ramckpt_spec/${java.util.UUID.randomUUID()}"
    val fm = new RamCheckpointFileManager(new Path(root), new Configuration())
    val file = new Path(root + "/offsets/0")
    try {
      val first = fm.createAtomic(file, overwriteIfPossible = false)
      val second = fm.createAtomic(file, overwriteIfPossible = false)
      first.write("first".getBytes("UTF-8"))
      second.write("second".getBytes("UTF-8"))
      first.close()
      intercept[FileAlreadyExistsException](second.close())
      val in = fm.open(file)
      val got = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      assert(got == "first")
      assert(RamCheckpointFileManager.entriesUnder(root) == 1)
    } finally RamCheckpointFileManager.drop(root)
  }
}
