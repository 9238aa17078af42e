package graft.util

import graft.{SourceScan, SparkSpec}
import graft.graph.{ConnectedComponents, Hierarchy}
import graft.text.BpeTrain
import org.apache.spark.sql.functions._

class RoundsSpec extends SparkSpec {
  import spark.implicits._

  test("checkpoints are taken only in Rounds.scala") {
    // A loop with its own checkpoint or cache decides on its own when a
    // round's state is written and when it is dropped.
    val checkpoint = """localCheckpoint\(|\.checkpoint\(""".r
    val mains = SourceScan.mainSources
    val owner = (p: java.nio.file.Path) => p.endsWith("graft/util/Rounds.scala")
    val offenders = SourceScan.overLimit(checkpoint, mains)(p => if (owner(p)) Int.MaxValue else 0)
    assert(offenders.isEmpty, s"checkpoints outside Rounds: ${offenders.mkString(", ")}")
    assert(mains.exists(owner), "scan found no Rounds.scala")
    val loops = mains.filter(p => Seq("graph/ConnectedComponents.scala", "graph/Hierarchy.scala",
      "text/BpeTrain.scala").exists(f => p.endsWith(f)))
    assert(loops.size == 3, s"scan found $loops")
    val cached = SourceScan.overLimit("""sharedInPlan|persist\(""".r, loops)(_ => 0)
    assert(cached.isEmpty, s"round loops that cache by hand: ${cached.mkString(", ")}")
  }

  test("a round with no shuffle costs one job: its probe, which writes its state") {
    val first = spark.range(0, 100, 1, 4).toDF("x")
    var out: Rounds.Outcome[Long] = null
    val jobs = jobsDuring {
      out = Rounds.iterate(first, maxRounds = 5)(_.aggregate(0L)(_ + _.getLong(0), _ + _)) {
        (prev, cur) => if (prev.exists(_.probe == cur.probe)) None
          else Some(cur.rows.select(least(col("x") + 25, lit(100L)).as("x")))
      }
    }
    // every x reaches 100 in round 4, so round 5's sum repeats round
    // 4's and the loop stops with nothing pending
    assert(out.rounds == 5 && out.pending.isEmpty && out.last.probe == 10000L)
    assert(jobs.size == 6, jobs.map(_.stageInfos.map(_.name)))
    // the last round is readable from its checkpoint with no new job
    // upstream of it: the plan is a scan of the round's state
    assert(out.last.rows.queryExecution.optimizedPlan.children.isEmpty)
    assert(out.last.rows.agg(sum("x")).as[Long].head() == 10000L)
  }

  test("maxRounds running out leaves the next round's rows pending") {
    val out = Rounds.iterate(Seq(1L).toDF("x"), maxRounds = 2)(_.count()) { (_, cur) =>
      Some(cur.rows.union(cur.rows))
    }
    assert(out.rounds == 2 && out.last.probe == 4L)
    assert(out.pending.map(_.count()) == Some(8L))
  }

  test("the loops keep at most the one round their result reads") {
    val sc = spark.sparkContext
    def grown(body: => Unit): Int = {
      val before = sc.getPersistentRDDs.keySet
      body
      (sc.getPersistentRDDs.keySet -- before).size
    }
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id1", "id2")
    assert(grown {
      val (labels, rounds) = ConnectedComponents.starContraction((1L to 40L).toDF("id"), chain)
      assert(rounds > 2 && labels.filter($"cluster_id" =!= 1L).count() == 0)
    } <= 1)
    val deep = (1L to 64L).map(i => (i, if (i == 1) Option.empty[Long] else Some(i - 1)))
      .toDF("id", "parent")
    assert(grown {
      val flat = Hierarchy.flatten(deep)
      assert(flat.filter($"id" === 64L).select("depth").as[Long].head() == 63L)
    } <= 1)
    val docs = Seq((1L, "abab abc zz"), (2L, "abc cddc dd")).toDF("doc_id", "text")
    assert(grown {
      val (merges, v) = BpeTrain.learnMergesAndVocab(docs, "text", 4)
      assert(merges.count() == 4 && v.count() == 5)
    } <= 1)
  }
}
