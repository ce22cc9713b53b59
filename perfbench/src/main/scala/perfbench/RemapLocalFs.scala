package perfbench

import java.io.File

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** Local filesystem that relocates absolute `/tmp/...` paths under the
  * benchmark's work directory (system property `perfbench.tmp`).
  *
  * Some operator leaves write fixtures to a fixed `/tmp` root through
  * Spark. Installed as `fs.file.impl` (see core-site.xml), this keeps every
  * read and write of a run inside the benchmark's checkout without
  * changing the program.
  */
class RemapLocalFs extends LocalFileSystem(new RemapRawLocalFs)

class RemapRawLocalFs extends RawLocalFileSystem {
  override def pathToFile(path: Path): File = RemapLocalFs.remap(super.pathToFile(path))

  // statuses must name the path the caller asked for, or Spark's file
  // index sees leaf files outside the root it listed
  override def getFileStatus(f: Path): FileStatus = RemapLocalFs.unmap(super.getFileStatus(f))
  override def getFileLinkStatus(f: Path): FileStatus = RemapLocalFs.unmap(super.getFileLinkStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(RemapLocalFs.unmap)
}

object RemapLocalFs {
  private lazy val target: Option[String] = sys.props.get("perfbench.tmp")

  def remap(f: File): File = target match {
    case Some(t) =>
      val p = f.getPath
      if (p == "/tmp") new File(t)
      else if (p.startsWith("/tmp/")) new File(t, p.substring(5))
      else f
    case None => f
  }

  def unmap(s: FileStatus): FileStatus = {
    target.foreach { t =>
      val p = s.getPath.toUri.getPath
      if (p == t) s.setPath(new Path("file:/tmp"))
      else if (p.startsWith(t + "/")) s.setPath(new Path("file:/tmp" + p.substring(t.length)))
    }
    s
  }
}
