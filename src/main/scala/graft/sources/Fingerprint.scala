package graft.sources

import org.apache.spark.sql.SparkSession

/** Source fingerprint for built artifacts ([[Fixture]]'s freshness key,
  * [[IngestLedger]]'s per-file identity): a digest over the source
  * listing's (name, length, mtime) plus a caller salt of build-relevant
  * constants. Regenerating a source at the same path changes the
  * fingerprint and invalidates the artifact instead of silently reusing
  * stale data (ADVICE r02). */
object Fingerprint {

  /** 16-hex digest of `path`'s file listing + `salt`. */
  def of(s: SparkSession, path: String, salt: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stats =
      if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).sortBy(_.getPath.toString)
      else Array(fs.getFileStatus(p))
    val fp = stats.map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}").mkString(",")
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(s"$path|$fp|$salt".getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString
      .take(16)
  }
}
