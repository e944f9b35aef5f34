package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.tools.ExplainDump

class ExplainDumpSpec extends AnyFunSuite with Matchers {

  test("normalize masks the run-dependent plan tokens and nothing else") {
    val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")
    val plan =
      "nearest_centroid(embedding#440, [J@3532b5d9, [[D@77bca6d6)\n" +
        "centroidagg(embedding#503, graft.operators.Ivf$CentroidAgg@4f347aae, true)\n" +
        "best_lang(text#737, de, en, [[Ljava.lang.String;@5e9f23b4)\n" +
        s"Location: InMemoryFileIndex [file:$tmp/graft-embpairs10519754891197782504/pairs]\n" +
        "Arguments: ENSURE_REQUIREMENTS, [plan_id=51]\n" +
        "Arguments: [id#285L], graft-cut:Dedup.minhashPairs.sigs MapPartitionsRDD[32] " +
        "at localCheckpoint at Lineage.scala:39, ExistingRDD\n" +
        "Condition : (email#3 = a@example.com)\n"
    ExplainDump.normalize(plan) shouldBe
      "nearest_centroid(embedding#1, [J@<hash>, [[D@<hash>)\n" +
        "centroidagg(embedding#2, graft.operators.Ivf$CentroidAgg@<hash>, true)\n" +
        "best_lang(text#3, de, en, [[Ljava.lang.String;@<hash>)\n" +
        "Location: InMemoryFileIndex [file:<tmp>/graft-embpairs/pairs]\n" +
        "Arguments: ENSURE_REQUIREMENTS, [plan_id=<n>]\n" +
        "Arguments: [id#4L], graft-cut:Dedup.minhashPairs.sigs MapPartitionsRDD[1] " +
        "at localCheckpoint at Lineage.scala, ExistingRDD\n" +
        "Condition : (email#5 = a@example.com)\n"

    // expression and RDD ids are renumbered per plan in order of first
    // appearance: a repeated id keeps its number, and distinct ids stay
    // distinct however the counters ordered them
    val ids =
      "Output [3]: [b#2624L, a#17, sum(x)#2624L]\n" +
        "Join condition: (a#17 = c#900)\n" +
        "MapPartitionsRDD[634] UnionRDD[32] MapPartitionsRDD[634]\n" +
        "Aggregate [a#17, `round(x, 2)`#5]\n"
    ExplainDump.normalize(ids) shouldBe
      "Output [3]: [b#1L, a#2, sum(x)#1L]\n" +
        "Join condition: (a#2 = c#3)\n" +
        "MapPartitionsRDD[1] UnionRDD[2] MapPartitionsRDD[1]\n" +
        "Aggregate [a#2, `round(x, 2)`#4]\n"
    // numbering restarts with each plan
    ExplainDump.normalize("a#17") shouldBe "a#1"
  }
}
