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
      "nearest_centroid(embedding#440, [J@<hash>, [[D@<hash>)\n" +
        "centroidagg(embedding#503, graft.operators.Ivf$CentroidAgg@<hash>, true)\n" +
        "best_lang(text#737, de, en, [[Ljava.lang.String;@<hash>)\n" +
        "Location: InMemoryFileIndex [file:<tmp>/graft-embpairs/pairs]\n" +
        "Arguments: ENSURE_REQUIREMENTS, [plan_id=<n>]\n" +
        "Arguments: [id#285L], graft-cut:Dedup.minhashPairs.sigs MapPartitionsRDD[32] " +
        "at localCheckpoint at Lineage.scala, ExistingRDD\n" +
        "Condition : (email#3 = a@example.com)\n"
  }
}
