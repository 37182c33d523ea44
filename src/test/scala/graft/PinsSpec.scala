package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.Pins
import graft.functions.{ConnectedComponents, TextDedup, Vectors}

/** The persistence registry (graft/engine/Pins.scala), one concern per
  * lifetime: session memos return the same cached frame for the same
  * (session, plan, params) and miss otherwise, with a hit
  * answer-identical to a fresh build; run pins leave the block manager
  * once the harness releases them; call scopes release on throw; and no
  * other main source persists anything.
  */
class PinsSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id").as("id"),
      Vectors.asDouble(col("embedding")).as("v"))
    .withColumn("nrm", Vectors.norm(col("v")))

  test("memo: same key returns the identical cached frame; different key misses") {
    val base = Seq((1L, "a b c")).toDF("doc_id", "text")
    val first = Pins.memo(base, "spec-probe", 7)(base.select(col("doc_id")))
    val again = Pins.memo(base, "spec-probe", 7)(base.select(col("doc_id")))
    assert(first eq again, "same key must return the cached object")
    val other = Pins.memo(base, "spec-probe", 8)(base.select(col("doc_id")))
    assert(!(first eq other), "params must discriminate keys")
    // the same plan on another session is another key: an entry is never
    // handed to a session it was not built on
    val s2 = spark.newSession()
    val base2 = {
      import s2.implicits._
      Seq((1L, "a b c")).toDF("doc_id", "text")
    }
    assert(base2.semanticHash() == base.semanticHash())
    val theirs =
      Pins.memo(base2, "spec-probe", 7)(base2.select(col("doc_id")))
    assert(!(theirs eq first), "another session must miss")
    assert(theirs.sparkSession eq s2)
  }

  test("ivfIndex2 + ivfAssign2 are shared across calls and answer-identical") {
    val nlist = Vectors.deriveNlist(emb.count())
    val i1 = Vectors.ivfIndex2(emb, nlist)
    val i2 = Vectors.ivfIndex2(emb, nlist)
    assert(i1.l1C eq i2.l1C, "l1 centroid table must be the cached frame")
    assert(i1.fineWithL1 eq i2.fineWithL1,
      "fine-centroid table must be the cached frame")
    val a1 = Vectors.ivfAssign2(emb, i1, 1)
    val a2 = Vectors.ivfAssign2(emb, i2, 1)
    // the Sim-frame underneath is memoized; the (id, cid) projections on
    // top are cheap and must agree row-for-row
    assert(a1.collect().toSeq.sortBy(_.getLong(0)) ==
      a2.collect().toSeq.sortBy(_.getLong(0)))
    // a different nprobe is a different artifact
    val p2 = Vectors.ivfAssign2(emb, i1, 2)
    assert(p2.count() > a1.count(), "nprobe=2 must emit more assignments")
  }

  test("minHashSignatures is shared and stable across calls") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val s1 = TextDedup.minHashSignatures(docs, 16)
    val s2 = TextDedup.minHashSignatures(docs, 16)
    assert(s1 eq s2, "same (docs, numPerms) must return the cached frame")
    val s3 = TextDedup.minHashSignatures(docs, 8)
    assert(!(s1 eq s3), "different numPerms must build fresh")
    assert(s1.head().getSeq[Long](s1.head().fieldIndex("sig")).size == 16)
  }

  test("Pins: block manager returns to baseline after pin-heavy queries") {
    // Two queries whose lambdas pin frames consumed by the returned lazy
    // plan (the sweep-line boundary frame; q_hits' two per-query edge
    // layouts and per-round score frames). Materialize through the same
    // noop write Bench uses, release, and assert no persistent RDD from
    // the query survives. Session memos (here the trade-graph family,
    // warmed through q_pagerank, which pins nothing) are never released
    // per query, so they belong in the baseline.
    SparkEntry.queries("q_pagerank")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    Pins.releaseAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Seq("q_concurrency", "q_hits").foreach { q =>
      SparkEntry.queries(q)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      assert(Pins.pending > 0,
        s"$q pinned nothing — the pin site regressed to a leaky persist")
      Pins.releaseAll()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"$q left persistent RDDs ${leaked.mkString(",")} after release")
    }
  }

  test("Pins: releaseAll is idempotent and tolerates lambda-side release") {
    val df = spark.range(10).toDF("x")
    val p = Pins.pin(df)
    p.count()
    p.unpersist(blocking = false) // lambda released it eagerly
    assert(Pins.releaseAll() >= 1) // registry entry still drains, no throw
    assert(Pins.pending == 0)
    assert(Pins.releaseAll() == 0)
  }

  test("scoped: a call-lifetime persist is released when its body throws") {
    // path 1-2-…-6 has diameter 5; one round cannot converge, so the
    // flood's require throws after its edge persist was materialized
    val path = (1L to 5L).map(i => (i, i + 1)).toDF("a", "b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] {
      ConnectedComponents.minLabelPropagation(path, maxRounds = 1)
    }
    // the rounds' eager localCheckpoints register checkpointed RDDs;
    // anything else new is a leaked persist
    val leaked = spark.sparkContext.getPersistentRDDs.filter {
      case (id, rdd) => !before(id) && !rdd.isCheckpointed
    }
    assert(leaked.isEmpty,
      s"persistent RDDs ${leaked.keys.mkString(",")} survived the throw")
  }

  test("gate: only engine/Pins.scala persists, caches or names a StorageLevel") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    val banned = Seq(".persist(", ".cache()", "StorageLevel")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName)
        .flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val files = scalaFiles(root)
    assert(files.exists(_.getPath.endsWith("engine/Pins.scala")))
    val hits = for {
      f <- files if !f.getPath.endsWith("engine/Pins.scala")
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      b <- banned if line.contains(b)
    } yield s"${f.getPath}:${i + 1}: $b"
    assert(hits.isEmpty,
      "persist through graft.engine.Pins (memo, pin or scoped):\n" +
        hits.mkString("\n"))
  }
}
