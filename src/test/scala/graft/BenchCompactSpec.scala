package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins `Bench.objectEnd`, which bounds the parent's scan of each child
  * JVM's `errors` and `spread` objects when `runIsolated` merges the
  * family lines. (The stdout compact renderer this spec was named for
  * is gone.)
  */
class BenchCompactSpec extends AnyFunSuite {

  test("objectEnd bounds the errors scan despite braces/escapes in messages") {
    // a message containing '{', '}', an escaped quote, AND a later
    // string field whose key collides with a query name must not leak
    // into the merge window — the scan stops at the errors object's
    // own closing brace
    val line =
      """{"queries":{"q01_x":1.0},"failed":["q01_x"],""" +
        """"errors":{"q01_x":"boom {nested} \" [x]"},""" +
        """"note":"q01_x looks like an error but is not","sf":"/tmp"}"""
    val eIdx = line.indexOf("\"errors\":")
    val eEnd = Bench.objectEnd(line, eIdx + 9)
    val window = line.substring(eIdx + 9, eEnd)
    assert(window.endsWith("}"))
    assert(window.contains("boom {nested}"))
    assert(!window.contains("note"), window)
    assert(!window.contains("looks like an error"), window)
    // unbalanced input degrades to scan-to-end, never throws
    val unbalanced = """{"a":"b"""
    assert(Bench.objectEnd(unbalanced, 0) == unbalanced.length)
  }
}
