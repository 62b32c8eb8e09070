package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scans of the main sources.
  *
  * A schema-less `.read.parquet(` goes through [[Tables.parquet]], which
  * infers each schema once per session. The sites below predate that read
  * path and are allowed by count; a new site anywhere else fails this
  * spec.
  *
  * The `spark.graft.*` session confs are a fixed set: an algorithm
  * parameter is a code constant next to its one use, not a conf. */
class ReadPathSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main/scala")
  private val schemaLessRead = """\.read\s*\.parquet\(""".r

  // file (relative to src/main/scala) → its sites; None = any number
  private val allowed: Map[String, Option[Int]] = Map(
    "graft/Tables.scala" -> Some(1), // inside Tables.parquet itself
    "graft/streaming/UpsertStream.scala" -> Some(2),
    "graft/streaming/EventsStream.scala" -> Some(2),
    "graft/Debug.scala" -> None)

  // the graft confs something sets: Bench/Debug/perfbench (oracleExport),
  // Skew's scoped session (autosalt.enabled), deployment paths, and the
  // size switches whose other arm specs force
  private val graftConfs = Set("oracleExport", "autosalt.enabled",
    "materializeDir", "prewarmCache.dir", "mr.execDir",
    "kcore.lazyMaxEdges", "pagerank.matMinEdges", "ccinc.driverMaxEdges")
  private val graftConfLiteral = "\"spark\\.graft\\.([A-Za-z0-9_.]+)\"".r

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("no schema-less .read.parquet( outside Tables.parquet and the allow-list") {
    assert(root.isDirectory, s"run from the repo root (${root.getAbsolutePath})")
    val counts = scalaFiles(root).map { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      rel -> schemaLessRead.findAllMatchIn(text).size
    }.filter(_._2 > 0).toMap
    // exact counts: a new site fails, and a removed one shrinks the list
    val bad = (counts.keySet ++ allowed.keySet).toSeq.sorted.flatMap { rel =>
      val n = counts.getOrElse(rel, 0)
      allowed.getOrElse(rel, Some(0)) match {
        case Some(max) if n != max => Some(s"$rel: $n site(s), allow-list says $max")
        case _ => None
      }
    }
    assert(bad.isEmpty,
      "schema-less parquet reads must use Tables.parquet:\n" + bad.mkString("\n"))
  }

  test("the main sources read exactly the listed spark.graft confs") {
    assert(root.isDirectory, s"run from the repo root (${root.getAbsolutePath})")
    val keys = scalaFiles(root).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      graftConfLiteral.findAllMatchIn(text).map(_.group(1))
    }.toSet
    assert(keys === graftConfs,
      s"new: ${keys -- graftConfs}, gone: ${graftConfs -- keys}")
  }
}
