package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

/** Bench's per-query pass is the one profile: phases, jobs split by the
  * step that started them, a stage table that accounts for every task,
  * and the final adaptive plan. `ml_nb_train` starts jobs while its
  * DataFrame is built (the trainer's aggregates); `agg_count_rows` does
  * not. */
class ProfileSpec extends SparkSpec {
  /** The second of two back-to-back passes, as Bench times them: the
    * first pass also reads the tables' parquet footers, a job of its
    * own that later passes skip. */
  private def pass(q: String): Bench.PassRec = {
    Bench.runOne(spark, sfDir, q, SparkEntry.queries(q))
    Bench.runOne(spark, sfDir, q, SparkEntry.queries(q), " pass2")
  }

  private lazy val eager = pass("ml_nb_train")
  private lazy val planOnly = pass("agg_count_rows")

  test("phase fields are non-negative; construction jobs only for the " +
    "query whose construction runs Spark work") {
    Seq(eager, planOnly).foreach { r =>
      assert(r.ok)
      assert(r.constructMs >= 0 && r.planMs >= 0 && r.execMs >= 0, r)
      assert(r.execJobs > 0, r)
    }
    assert(eager.constructJobs > 0)
    assert(planOnly.constructJobs === 0)
  }

  test("the stage rows' task counts sum to the pass's tasks") {
    Seq(eager, planOnly).foreach { r =>
      assert(r.stageRows.nonEmpty)
      assert(r.stageRows.map(_.tasks.toLong).sum === r.tasks)
    }
  }

  test("the profile file holds the stage table and the final adaptive " +
    "plan") {
    val dir = Files.createTempDirectory("graft-profile")
    Seq("ml_nb_train" -> eager, "agg_count_rows" -> planOnly).foreach {
      case (q, r) =>
        Bench.writeProfile(dir, q, r)
        val text = new String(Files.readAllBytes(dir.resolve(s"$q.txt")),
          UTF_8)
        assert(text.contains("isFinalPlan=true"), text)
        assert(text.contains("wall_ms") && text.contains("cpu_ms"), text)
    }
  }

  test("attrib JSON carries the profile fields and round-trips control " +
    "characters in notes through Jackson") {
    val note = "tab\there\nnewline\u0001ctl \"quoted\" back\\slash"
    val r = Bench.runOne(spark, sfDir, "note_probe", (s, _) => {
      Attrib.note("probe", note)
      s.range(1).toDF()
    })
    val json = Bench.attribJson(Seq(
      "note_probe" -> Bench.QueryRec(r, 0L),
      "ml_nb_train" -> Bench.QueryRec(eager, 0L)))
    val tree = new ObjectMapper().readTree(json)
    assert(tree.get("note_probe").get("probe").asText() === note)
    val nb = tree.get("ml_nb_train")
    Seq("construct_ms", "plan_ms", "exec_ms", "construct_jobs",
      "exec_jobs", "stages", "shuffle_read_bytes", "shuffle_write_bytes",
      "spill_bytes").foreach(k => assert(nb.get(k).isNumber, k))
    assert(nb.get("construct_jobs").asLong() === eager.constructJobs)
    assert(nb.get("stages").asLong() === eager.stageRows.size.toLong)
  }
}
