package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** One small UTF-8 text file beside a sink's data, published by temp
  * file + rename: a crash mid-write leaves the prior file intact, or
  * (in the delete -> rename window) no file, never a truncated one
  * under the final name. Callers parse the text themselves and treat
  * an unparseable file like a missing one. */
private[streaming] object SmallFile {

  /** The file's text; None when it does not exist. */
  def read(fs: FileSystem, dir: String, name: String): Option[String] = {
    val p = new Path(dir, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  def publish(fs: FileSystem, dir: String, name: String,
              text: String): Unit = {
    val p = new Path(dir, name)
    val tmp = new Path(dir, name + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"publish failed: $tmp -> $p")
  }
}
