package graft.operators

import java.io.File
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.lake.{FileSkipping, LakeQueries}
import graft.sources.FormatFidelity

/** The session artifact store ([[ModelArtifacts]]): what its entries own
  * is deleted on release, and concurrent and nested builds of entries
  * build each entry once without blocking one another. */
class SessionArtifactsSpec extends SparkSpec {
  import spark.implicits._

  private val pool = Executors.newFixedThreadPool(3)
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutor(pool)

  override def afterAll(): Unit = pool.shutdownNow(): Unit

  test("releasing the session deletes every artifact directory it owns") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf)
    val orders = graft.Tables.orders(spark, sf)
    val emb = graft.Tables.embeddings(spark, sf)
    Similarity.ivfPqStoredServe(emb).collect()
    Similarity.storedGraphBeamRecall(emb.filter(col("vec_id") < 40),
      nQueries = 2, k = 3, beam = 6, hops = 1, graphK = 4, nCells = 2)
      .collect()
    LakeQueries.roundtripList(spark, docs).collect()
    Seq(LakeQueries.snapshotMerge _, LakeQueries.vacuumPlanReport _,
      LakeQueries.morChainRead _, LakeQueries.replaceWhereRead _,
      LakeQueries.wapRead _, LakeQueries.branchRead _)
      .foreach(q => q(spark, orders).collect())
    FormatFidelity.jsonlRoundTrip(docs).collect()
    FormatFidelity.csvRoundTrip(docs).collect()
    FormatFidelity.csvSplittableRoundTrip(docs).collect()
    FileSkipping.skippingDemo(spark, orders).collect()
    val dirs = ModelArtifacts.dirs
    val kinds = dirs.map(d => new File(d).getName.replaceAll("-[0-9]+$", ""))
    assert(Set("index", "lake", "snap", "vac", "mor", "rw", "wap", "branch",
      "fidelity-json", "fidelity-csv", "fidelity-csv-splittable", "skip")
      .subsetOf(kinds.toSet), kinds)
    assert(dirs.forall(d => new File(d).isDirectory))
    val roots = dirs.map(d => new File(d).getParentFile).distinct
    assert(roots.size == 1, roots)
    ModelArtifacts.release(spark)
    assert(dirs.forall(d => !new File(d).exists), "a directory outlived release")
    assert(!roots.head.exists, "the session root outlived release")
    assert(ModelArtifacts.dirs.isEmpty && IndexStore.size == 0)
    // a released store rebuilds on the next call
    assert(LakeQueries.roundtripList(spark, docs).count() > 0)
    ModelArtifacts.release(spark)
  }

  test("IndexStore.clear() deletes the directories of its tables") {
    val df = (1 to 20).map(i => (i.toLong, i % 3)).toDF("id", "cell")
    IndexStore.storedTable("t", df, "p", Seq("cell"))(df).collect()
    val dirs = ModelArtifacts.dirs.filter(new File(_).getName.startsWith("index-"))
    assert(dirs.size == 1 && new File(dirs.head).isDirectory)
    IndexStore.clear()
    assert(!new File(dirs.head).exists && IndexStore.size == 0)
  }

  test("a build that throws leaves no directory, and the next call rebuilds") {
    val df = Seq((1L, "x")).toDF("id", "v")
    var dir = ""
    val e = intercept[IllegalStateException] {
      ModelArtifacts.stored[String]("failing", df, "") { d =>
        dir = d
        df.write.parquet(d)
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(dir.nonEmpty && !new File(dir).exists, s"$dir survived its build")
    val again = ModelArtifacts.stored("failing", df, "") { d =>
      df.write.parquet(d); d }
    assert(again != dir && new File(again).isDirectory)
    ModelArtifacts.releaseWhere((_, kind) => kind == "failing")
    assert(!new File(again).exists)
  }

  test("two threads that miss on one key run the builder once") {
    ModelArtifacts.clear()
    val df = Seq((1L, "x")).toDF("id", "v")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val both = (1 to 2).map(_ => Future {
      start.await()
      ModelArtifacts.cached("race", df, "p") {
        builds.incrementAndGet(); Thread.sleep(300); df }
    })
    start.countDown()
    val got = Await.result(Future.sequence(both), 60.seconds)
    assert(builds.get == 1 && (got(0) eq got(1)))
    ModelArtifacts.clear()
  }

  test("a stored-table build that trains a model through the store " +
      "completes") {
    ModelArtifacts.clear(); IndexStore.clear()
    val df = (1 to 10).map(i => (i.toLong, i % 2)).toDF("id", "cell")
    val built = Future {
      IndexStore.storedTable("nested", df, "p", Seq("cell")) {
        val model = ModelArtifacts.cached("inner", df, "q")(df.limit(1))
        df.crossJoin(model.select(col("id").as("m")).limit(1)).drop("m")
      }.count()
    }
    assert(Await.result(built, 120.seconds) == 10L)
    assert(IndexStore.size == 1 && ModelArtifacts.size == 1)
    ModelArtifacts.clear(); IndexStore.clear()
  }

  test("a slow build on one key does not delay a lookup of another") {
    val inSlow = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    val slow = Future {
      ModelArtifacts.memo(spark, "slow", "a") {
        inSlow.countDown(); finish.await(60, TimeUnit.SECONDS); "a" }
    }
    assert(inSlow.await(30, TimeUnit.SECONDS))
    val fast = Future(ModelArtifacts.memo(spark, "slow", "b")("b"))
    assert(Await.result(fast, 10.seconds) == "b")
    assert(!slow.isCompleted, "the slow build ended before the fast lookup")
    finish.countDown()
    assert(Await.result(slow, 30.seconds) == "a")
    ModelArtifacts.releaseWhere((_, kind) => kind == "slow")
  }
}
