package graft.sources

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

/** One mechanism for every on-disk fixture: `Fixture(name, source, salt)(build)`
  * returns `<root>/<name>[/<basename of source>]`, built at most once per
  * fingerprint, so builds from different sources (sf0.001, sf0.01) live
  * side by side.
  *
  *   - fresh: the `src_key` marker equals [[Fingerprint.of]](source, salt),
  *     or `salt` alone when there is no source;
  *   - stale: delete the directory, build in place, then publish the marker
  *     LAST with an atomic rename. A torn build (crash, `kill -9`) has no
  *     marker and rebuilds on the next call;
  *   - concurrency: a per-fixture `FileChannel` lock (`<dir>.lock`) orders
  *     JVMs; file locks are per process, so a JVM-level monitor orders the
  *     threads of one JVM. A build that reads another fixture takes that
  *     fixture's lock inside its own (outer first), never the reverse.
  *
  * Marker-last rather than build-in-temp-then-rename: table fixtures
  * (CowTable, ManifestTree) reference their own files by absolute path, so
  * a renamed tree would dangle. Nothing here touches the disk before the
  * first call. */
object Fixture {

  /** `<working dir>/spark-warehouse`, Spark's default `spark.sql.warehouse.dir` */
  val root: String = Paths.get(System.getProperty("user.dir"), "spark-warehouse").toString

  def dir(name: String, source: Option[String] = None): String =
    source.fold(s"$root/$name")(src => s"$root/$name/${new File(src).getName}")

  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  def apply(name: String, source: Option[String], salt: String)(build: String => Unit): String = {
    val out = dir(name, source)
    at(out, source.fold(salt)(Fingerprint.of(org.apache.spark.sql.SparkSession.active, _, salt)))(build(out))
  }

  /** The fixture at `out`, fresh when its marker equals `key`. Objects that
    * keep a source-less fixture's [[dir]] in a `val` pass that val, so the
    * fixture's name is spelt once. */
  def at(out: String, key: String)(build: => Unit): String = holding(out) {
    val path = Paths.get(out)
    val marker = path.resolve("src_key")
    if (!Files.exists(marker) || new String(Files.readAllBytes(marker), "UTF-8") != key) {
      org.apache.commons.io.FileUtils.deleteDirectory(path.toFile)
      Files.createDirectories(path)
      build
      val tmp = Files.write(path.resolve(".src_key.tmp"), key.getBytes("UTF-8"))
      Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE)
    }
    out
  }

  /** Run `body` holding the lock of the fixture at `dir`, so no JVM rebuilds
    * it meanwhile: a build that reads another fixture's files holds that
    * fixture's lock inside its own. */
  def holding[A](dir: String)(body: => A): A =
    monitors.computeIfAbsent(dir, _ => new AnyRef).synchronized {
      Files.createDirectories(Paths.get(dir).getParent)
      val lock = FileChannel.open(Paths.get(s"$dir.lock"), StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        lock.lock()
        body
      } finally lock.close()
    }

  /** When the fixture at `dir` was last built: the salt of a dependent
    * fixture that references its files by path, so a rebuild of the one
    * rebuilds the other. */
  def stamp(dir: String): String = Files.getLastModifiedTime(Paths.get(dir, "src_key")).toMillis.toString

  /** `<root>/proc-<pid>/<name>`: a per-process directory for outputs a query
    * writes and reads back, so concurrent JVMs never clobber each other's;
    * removed when the JVM exits. */
  def scratch(name: String): String = s"$procDir/$name"

  private lazy val procDir: String = {
    val d = s"$root/proc-${ProcessHandle.current().pid()}"
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(new File(d)))
    d
  }
}
