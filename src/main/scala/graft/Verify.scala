package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import graft.sources.Reports.{jsonString => q}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Collision-proofing (round 13): round 12's official correctness record
  * came back an empty `{}` because two concurrent gate runs shared an
  * outDir — one run's `rm -rf` deleted result dirs while the other's
  * compare was mid-read. The dump is therefore now staged in a unique
  * per-run sibling directory and PUBLISHED via a single atomic rename,
  * with a `MANIFEST.json` (file inventory + SHA-256) written last inside
  * the stage; `tools/compare.py` refuses to adjudicate any directory
  * whose manifest is missing or whose files don't match it. A
  * half-written or half-deleted dir can no longer be read as a result.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name prefixes — dump (and list in
    // oracle_sql.json) only matching queries, for fast local iteration;
    // the driver always calls with exactly two args = full registry
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Array.empty[String])
      case Array(s, o, f) => (s, o, f.split(','))
      case _ => sys.error(
        "usage: graft.Verify <sfDir> <outDir> [prefix1,prefix2,...] — " +
          "prefixes are ONE comma-separated arg, not separate args")
    }
    def keep(name: String) =
      only.isEmpty || only.exists(name.startsWith)
    val spark = graft.core.Sessions.build("graft-verify",
      graft.core.Sessions.cpusFromEnv(4))
    val outPath = Paths.get(outDir).toAbsolutePath
    def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toVector.reverseIterator
          .foreach(Files.deleteIfExists(_))
      } finally s.close()
    }
    // Sweep stale stages from runs that died before publish — a crashed
    // run's unique .staging-<pid>-<nanos> sibling would otherwise leak
    // forever (names are never reused). Only stages whose owning pid is
    // gone are swept; a live concurrent run's stage is left alone.
    locally {
      val parent = outPath.getParent
      val prefix = outPath.getFileName.toString + ".staging-"
      if (parent != null && Files.isDirectory(parent)) {
        val s = Files.list(parent)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(_.getFileName.toString.startsWith(prefix))
            .toVector.foreach { st =>
              val pid = st.getFileName.toString.stripPrefix(prefix)
                .split("-").headOption.flatMap(_.toLongOption)
              val alive = pid.exists(p =>
                ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
              if (!alive) {
                System.err.println(s"[verify] sweeping stale stage $st")
                deleteRecursively(st)
              }
            }
        } finally s.close()
      }
    }
    // unique per-run stage next to the target (same filesystem → the
    // final Files.move can be an atomic rename, not a copy)
    val stage = outPath.resolveSibling(
      outPath.getFileName.toString + s".staging-" +
        ProcessHandle.current().pid() + "-" + System.nanoTime())
    Files.createDirectories(stage)
    // a run that dies before publish must not leak its stage
    var published = false
    sys.addShutdownHook { if (!published) deleteRecursively(stage) }
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$stage/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // every string escaped: a tab or CR in the SQL would otherwise make
    // the reader's json.load fail and zero the whole correctness record
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(stage.resolve("oracle_sql.json"), json)
    spark.stop()

    // Completion manifest — written LAST, so its presence certifies that
    // every file above it finished writing. Inventory = every visible
    // regular file under the stage (part-*.parquet, _SUCCESS,
    // oracle_sql.json; Hadoop's hidden .crc sidecars are skipped — they
    // are a LocalFileSystem artifact, not part of the result contract).
    def sha256(p: Path): String = {
      val md = MessageDigest.getInstance("SHA-256")
      val in = Files.newInputStream(p)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      md.digest().map(b => f"$b%02x").mkString
    }
    val files = {
      val s = Files.walk(stage)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith("."))
          .map { p =>
            val rel = stage.relativize(p).toString
            (rel, Files.size(p), sha256(p))
          }.toVector.sortBy(_._1)
      } finally s.close()
    }
    val nQueries = files.count(_._1.endsWith("/_SUCCESS"))
    val manifest = files.map { case (rel, size, sum) =>
      s"${q(rel)}:{${q("size")}:$size,${q("sha256")}:${q(sum)}}"
    }.mkString(
      s"{${q("format")}:1,${q("queries")}:$nQueries,${q("files")}:{",
      ",", "}}")
    Files.writeString(stage.resolve("MANIFEST.json"), manifest)

    // Publish: replace outDir with the completed stage in one rename.
    // Deleting a pre-existing target first is unavoidable (rename onto a
    // non-empty dir fails), but any reader that catches the gap — or a
    // reader racing a concurrent publish — now sees either no manifest
    // or checksum mismatches and REFUSES, instead of adjudicating a torn
    // directory as a result.
    deleteRecursively(outPath)
    try Files.move(stage, outPath, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(stage, outPath)
    }
    published = true
    println(s"[verify] published ${files.size} files / $nQueries query " +
      s"dirs to $outPath (atomic, manifested)")
  }
}
