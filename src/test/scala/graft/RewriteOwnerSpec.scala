package graft

/** Every stored artifact replaces its files through
  * `graft.sources.Compact` (`swap`, `rewriteBuckets`): a new artifact
  * cannot ship its own rename dance or its own dynamic partition
  * overwrite. The one other overwrite-by-partition writer is
  * `Bucketed.backfillDays`, which replaces days without reading them. */
class RewriteOwnerSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val root = new java.io.File("src/main/scala")

  private def sources(d: java.io.File): Seq[java.io.File] =
    d.listFiles.toSeq.flatMap(f =>
      if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala")))

  /** (file, line index) of every line of `src/main` containing `token`. */
  private def sites(token: String): Seq[(java.io.File, Int)] =
    sources(root).flatMap { f =>
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      lines.indices.filter(lines(_).contains(token)).map(f -> _)
    }

  private def rel(f: java.io.File) = root.toPath.relativize(f.toPath).toString

  test("rename( appears in src/main only in sources/Compact.scala") {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val stray = sites("rename(").map { case (f, i) => s"${rel(f)}:${i + 1}" }
      .filterNot(_.startsWith("graft/sources/Compact.scala:"))
    assert(stray.isEmpty, s"rename outside Compact: $stray")
  }

  test("partitionOverwriteMode appears only in Compact.scala and Bucketed.backfillDays") {
    val stray = sites("partitionOverwriteMode").filterNot { case (f, i) =>
      rel(f) match {
        case "graft/sources/Compact.scala" => true
        case "graft/sources/Bucketed.scala" =>
          // inside backfillDays: from its doc comment to the next def
          val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
          val d = lines.indexWhere(_.contains("def backfillDays"))
          val docStart = lines.lastIndexWhere(_.trim.startsWith("/**"), d)
          val end = lines.indexWhere(_.contains("def "), d + 1)
          d >= 0 && i >= docStart && (end < 0 || i < end)
        case _ => false
      }
    }.map { case (f, i) => s"${rel(f)}:${i + 1}" }
    assert(stray.isEmpty, s"dynamic partition overwrite outside Compact: $stray")
  }
}
