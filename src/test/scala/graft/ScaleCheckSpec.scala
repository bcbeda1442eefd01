package graft

import graft.ext.{Dedup, TextStats}
import graft.queries.Declared
import graft.tools.ScaleCheck
import graft.tools.ScaleCheck.{Stride, permute, refreshReplicas, replicas, retag}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ScaleCheck's shared parts on the sf0.001 fixture: the replica builder
  * and its bijections keep what the witnesses rely on, and the refresh
  * runner leaves no temp store behind.
  */
class ScaleCheckSpec extends SparkSuite {
  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    .select("doc_id", "lang", "source", "text", "n_chars")

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty, "rows only in the first frame")
    assert(b.exceptAll(a).isEmpty, "rows only in the second frame")
  }

  test("refresh replicas: replica 0 is the declared v1 / v2 of the fixture") {
    for (version <- Seq[DataFrame => DataFrame](Declared.refreshV1, Declared.refreshV2)) {
      val r0 = refreshReplicas(docs, 4, version).filter(col("doc_id") < Stride)
      sameRows(r0, version(docs))
    }
  }

  test("replicas: ids disjoint across replicas, n times the 1x count") {
    val n1 = docs.count()
    for (r <- Seq(replicas(docs, "doc_id", 4), refreshReplicas(docs, 4, identity))) {
      val perReplica = r.groupBy(floor(col("doc_id") / Stride).as("i"))
        .agg(count(lit(1)).as("rows"), countDistinct(col("doc_id")).as("ids"))
        .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
      assert(perReplica == (0L until 4L).map(_ -> (n1, n1)).toMap)
      assert(r.select("doc_id").distinct().count() == 4 * n1)
    }
  }

  // each replica's rows beside their 1x originals, by id
  private def besideOriginal(r: DataFrame, f: Column => Column): DataFrame =
    r.select((col("doc_id") % Stride).as("doc_id"), f(col("text")).as("got"))
      .join(docs.select(col("doc_id"), f(col("text")).as("want")), "doc_id")

  test("retag keeps every document's token count") {
    val both = besideOriginal(replicas(docs, "doc_id", 3, retag(0), retag), TextStats.tokenCount)
    assert(both.count() == 3 * docs.count())
    assert(both.filter(col("got") =!= col("want")).isEmpty)
  }

  test("token permutation keeps each document's token multiset") {
    val both = besideOriginal(replicas(docs, "doc_id", 3, rest = permute("")),
      t => array_sort(Dedup.tokens(t)))
    assert(both.count() == 3 * docs.count())
    assert(both.filter(col("got") =!= col("want")).isEmpty)
    // and it does permute: most multi-token documents change order
    val moved = replicas(docs, "doc_id", 2, rest = permute("c"))
      .filter(col("doc_id") >= Stride)
      .join(docs.select((col("doc_id") + Stride).as("doc_id"), col("text").as("orig")), "doc_id")
      .filter(col("text") =!= concat_ws(" ", Dedup.tokens(col("orig")))).count()
    assert(moved > docs.count() / 2, s"only $moved documents permuted")
  }

  test("refresh runner: the temp store is gone after a leg or a check throws") {
    var dir = ""
    val e = intercept[IllegalStateException] {
      ScaleCheck.refreshAtScale("spec", 1, docs, docs) { (d, v1, _) =>
        dir = d
        ScaleCheck.legs[Long, Long, Unit]({
          assert(Files.exists(Paths.get(s"$d/v1")) && v1.count() == docs.count())
          throw new IllegalStateException("leg failed")
        }, 0L)((_, _) => None)((_, _) => ())
      }
    }
    assert(e.getMessage == "leg failed")
    assert(dir.nonEmpty && !Files.exists(Paths.get(dir)), s"$dir left behind")

    val differs = intercept[AssertionError] {
      ScaleCheck.refreshAtScale("spec", 1, docs, docs) { (d, v1, v2) =>
        dir = d
        ScaleCheck.rowLegs(v1.limit(3), v2.limit(2))(())
      }
    }
    assert(differs.getMessage.contains("spec scale: refresh != rebuild at 1x"))
    assert(!Files.exists(Paths.get(dir)), s"$dir left behind")

    val ok = ScaleCheck.refreshAtScale("spec", 1, docs, docs) { (d, v1, v2) =>
      dir = d
      ScaleCheck.rowLegs(v1.select("doc_id"), v2.select("doc_id"))(v2.count())
    }
    assert(ok.witness == docs.count() && ok.refresh > 0 && ok.rebuild > 0)
    assert(!Files.exists(Paths.get(dir)), s"$dir left behind")
  }
}
