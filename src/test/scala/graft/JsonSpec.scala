package graft

import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

/** The strict parser and typed accessors every JSON read goes through. */
class JsonSpec extends AnyFunSuite {

  private def refused(text: String): Boolean =
    scala.util.Try(Json.parseObject(text)).failed.toOption
      .exists(_.isInstanceOf[IllegalArgumentException])

  test("malformed documents are IllegalArgumentException, never a partial read") {
    assert(refused("""{"name":"t","location":"/tmp/x""""))
    assert(refused("""{"name":"t"} trailing"""))
    assert(refused("""{"name":"t"}{"name":"u"}"""))
    assert(refused("""[{"name":"t"}]"""))
    assert(refused(""))
    assert(refused("   "))
    assert(refused("""{"name":'t'}"""))
  }

  test("escapes decode per RFC 8259") {
    val o = Json.parseObject("""{"a":"\/tmp\/x","b":"x\\ny","c":"é\t"}""")
    assert(Json.str(Json.at(o, "a")).contains("/tmp/x"))
    assert(Json.str(Json.at(o, "b")).contains("x\\ny"))
    assert(Json.str(Json.at(o, "c")).contains("é\t"))
  }

  test("jstr round-trips through parse byte-equal") {
    val s = "q\"b\\s\n\r\t\u0001/é ] } ,"
    assert(Json.str(Json.parse(Json.jstr(s))).contains(s))
  }

  test("integer fields are strict, double fields accept integers") {
    val o = Json.parseObject(
      """{"i":3,"big":9223372036854775807,"over":9223372036854775808,
        |"f":3.5,"s":"3","n":null,"lead":.5}""".stripMargin)
    assert(Json.long(Json.at(o, "i")).contains(3L))
    assert(Json.long(Json.at(o, "big")).contains(Long.MaxValue))
    assert(Json.long(Json.at(o, "over")).isEmpty)
    assert(Json.long(Json.at(o, "f")).isEmpty)
    assert(Json.long(Json.at(o, "s")).isEmpty)
    assert(Json.double(Json.at(o, "i")).contains(3.0))
    assert(Json.double(Json.at(o, "f")).contains(3.5))
    assert(Json.double(Json.at(o, "lead")).contains(0.5))
    assert(Json.optLong(Json.at(o, "n"), "n").isEmpty)
    assert(Json.optLong(Json.at(o, "absent"), "absent").isEmpty)
    assert(Json.optLong(Json.at(o, "i"), "i").contains(3L))
    assert(scala.util.Try(Json.optLong(Json.at(o, "f"), "f")).isFailure)
    assert(Json.present(Json.at(o, "n")) && !Json.present(Json.at(o, "absent")))
  }

  test("paths descend through objects only") {
    val o = Json.parseObject(
      """{"a":{"b":{"c":1}},"arr":[{"c":2}],"dup":1,"dup":2}""")
    assert(Json.long(Json.at(o, "a", "b", "c")).contains(1L))
    assert(Json.at(o, "arr", "c") == JNothing)
    assert(Json.at(o, "a", "missing", "c") == JNothing)
    assert(Json.long(Json.at(o, "dup")).contains(1L))
  }

  test("string arrays: absent is empty, anything but strings is refused") {
    val o = Json.parseObject(
      """{"ok":["a","b]"],"mixed":["a",1],"empty":[],"obj":{}}""")
    assert(Json.strs(Json.at(o, "ok"), "ok") == List("a", "b]"))
    assert(Json.strs(Json.at(o, "empty"), "empty") == Nil)
    assert(Json.strs(Json.at(o, "absent"), "absent") == Nil)
    assert(scala.util.Try(Json.strs(Json.at(o, "mixed"), "mixed")).isFailure)
    assert(scala.util.Try(Json.strs(Json.at(o, "obj"), "obj")).isFailure)
  }
}
