package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `sources/Footer` is the one reader of parquet footers: no other
  * main source opens one, so a caller that needs several facts of a
  * file (schema, row count, size, column statistics) gets them from
  * one read instead of opening the file again per fact.
  */
class FooterOwnershipSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")
  private val owner = main.resolve("graft/sources/Footer.scala")

  test("only sources/Footer.scala opens a parquet footer") {
    val opens = Seq("ParquetFileReader.open", "HadoopInputFile.fromPath")
    val ownerText = new String(Files.readAllBytes(owner), "UTF-8")
    assert(opens.forall(ownerText.contains), s"footer reads not found in $owner")
    val offenders = Files.walk(main).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner)
      .flatMap { p: Path =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        opens.filter(text.contains).map(o => s"$p: $o")
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
