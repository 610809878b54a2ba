package graft

import java.nio.file.Files

import graft.ckpt.Checkpoint

/** The one maker of spec temp directories: a fresh root under the temp
  * dir, deleted with everything under it once `body` returns or throws.
  * `SessionBuilderSpec` fails if a spec makes a temp directory
  * elsewhere. */
object TempRoot {
  def apply[T](prefix: String)(body: String => T): T = {
    val root = Files.createTempDirectory(prefix)
    try body(root.toString) finally Checkpoint.deleteTree(root)
  }
}
