package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Profile's JSON lines stay JSON when the strings they carry — query
  * names, action callsites, SQL execution descriptions — hold quotes and
  * backslashes (a SQL string literal, a Windows path). */
class ProfileSpec extends AnyFunSuite {
  private val json = new ObjectMapper()
  private val nasty = "select * from t where s = 'a\"b' and p = 'C:\\x' \t"

  test("callsite and stage lines escape their strings") {
    val cs = json.readTree(Profile.callsiteJson(s"collect at $nasty", 3))
    assert(cs.get("callsite").asText == s"collect at $nasty")
    assert(cs.get("n_jobs").asInt == 3)
    val stage = s"$nasty / save at \"Dedup.scala\":826"
    val st = json.readTree(Profile.stageJson(stage, 4, 1500L, 900L))
    assert(st.get("stage").asText == stage)
    assert(st.get("n_tasks").asInt == 4)
    assert(st.get("task_sec").asDouble == 1.5)
    assert(st.get("max_task_sec").asDouble == 0.9)
  }

  test("the query line escapes the query name") {
    val q = json.readTree(new Profile.Agg().json(nasty, 2.0))
    assert(q.get("query").asText == nasty)
    assert(q.get("wall_sec").asDouble == 2.0)
  }
}
