package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("quote round-trips quotes, backslashes and control chars through Jackson") {
    val s = "a\"b\\c\td\u0001e\r\n/f é"
    val q = Json.quote(s)
    assert(!q.exists(_ < ' '), s"raw control char left in $q")
    assert(mapper.readValue(q, classOf[String]) === s)
    // as a key and a value of one object line, the shape the mains print
    val line = s"""{${Json.quote(s)}:1,"sf":${Json.quote(s)}}"""
    val tree = mapper.readTree(line)
    assert(tree.get(s).asInt() === 1)
    assert(tree.get("sf").asText() === s)
  }
}
