package graft

import org.scalatest.funsuite.AnyFunSuite

/** The JSON escape behind Verify's oracle_sql.json / errors.json and
  * Bench's errors map: a consumer's json.load must read back exactly the
  * string that went in. */
class MainEnvSpec extends AnyFunSuite {

  test("jsonString escapes quote, backslash and every control char") {
    val raw = "say \"hi\" C:\\tmp\nline2\r\tcol\u0001end"
    val lit = MainEnv.jsonString(raw)
    assert(lit ==
      "\"say \\\"hi\\\" C:\\\\tmp\\nline2\\r\\tcol\\u0001end\"")
    assert(!lit.exists(_ < ' '), "no raw control char may survive")
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(lit, classOf[String])
    assert(back == raw)
  }
}
