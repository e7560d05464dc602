package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `lake/Manifest` is the one owner of the manifest format: no other
  * main source names the `_manifests` directory or builds lines from
  * the trailer, the fragment-ref prefix or an entry annotation
  * constant, so the format and its CAS publish stay one module's
  * decision. It also owns the header vocabulary: no other main source
  * declares a header-key constant or defines or calls the header
  * codec. And it owns the per-file annotation keys: no other main
  * source spells a stats or bloom annotation key or builds or reads
  * the day annotation.
  */
class ManifestOwnershipSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")
  private val owner = main.resolve("graft/lake/Manifest.scala")

  private def sources: Seq[Path] =
    Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq

  test("only lake/Manifest.scala names _manifests or uses the format's constants") {
    val ownerText = new String(Files.readAllBytes(owner), "UTF-8")
    val annots = "val (\\w+Annot) =".r.findAllMatchIn(ownerText).map(_.group(1)).toSeq
    assert(annots.size >= 7, s"annotation constants not found in $owner")
    val constants = (Seq("EofMarker", "RefPrefix") ++ annots).map(c => s"\\b$c\\b".r)
    val offenders = sources.filter(_ != owner).flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      (if (text.contains("_manifests")) Seq(s"$p: _manifests") else Nil) ++
        constants.filter(_.findFirstIn(text).isDefined).map(c => s"$p: $c")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only lake/Manifest.scala declares header keys or runs their k=v codec") {
    val ownerText = new String(Files.readAllBytes(owner), "UTF-8")
    val keys = "val (\\w+Key) = \"(\\w+)\"".r.findAllMatchIn(ownerText)
      .map(m => m.group(1) -> m.group(2)).toSeq
    assert(keys.map(_._2).toSet === Set("committed_at", "format", "colmap", "coltypes",
      "fieldids", "dropped", "tblprops", "partition", "statscols", "bloomcols"),
      s"header keys not found in $owner")
    // the codec: the escape and every render/decode helper
    val codec = "private def ((?:fact|renderFact)\\w*)".r.findAllMatchIn(ownerText)
      .map(_.group(1)).toSeq
    assert(Set("factEscape", "factUnescape", "renderFactMap", "factMap").subsetOf(codec.toSet),
      s"codec not found in $owner")
    val rules =
      keys.map { case (name, _) => s"\\b$name\\b".r } ++
        keys.map { case (_, key) => s"val\\s+\\w+\\s*(:\\s*String\\s*)?=\\s*\"$key\"".r } ++
        codec.map(c => s"\\b$c\\b".r) ++
        Seq("\\bpairs\\(".r, "\\brenderPairs\\b".r, "def\\s+pairs\\b".r,
          "Manifest\\.\\{[^}]*\\bpairs\\b".r)
    val offenders = sources.filter(_ != owner).flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      rules.filter(_.findFirstIn(text).isDefined).map(r => s"$p: $r")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only lake/Manifest.scala spells the per-file annotation keys") {
    val ownerText = new String(Files.readAllBytes(owner), "UTF-8")
    val statsKey = "(?<!\\w)_(min|max|smin|smax|bloom)_".r
    assert(statsKey.findAllIn(ownerText).toSet.size === 5 && ownerText.contains("\"_graft_day=\""),
      s"annotation keys not found in $owner")
    // writeDays may name its Hive directory column after the day
    // annotation; nothing else outside the owner spells it
    val hiveColumn = "val \\w+ = \"_graft_day\"".r
    val offenders = sources.filter(_ != owner).flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      val hive = hiveColumn.findAllIn(text).size
      statsKey.findAllIn(text).map(k => s"$p: $k").toSeq ++
        (if (hive > 1 || hive == 1 && !p.endsWith("lake/SnapshotTable.scala"))
           Seq(s"$p: $hive Hive day columns") else Nil) ++
        (if (hiveColumn.replaceAllIn(text, "").contains("_graft_day")) Seq(s"$p: _graft_day")
         else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
