package graft

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The state-store contract: [[StatusStore]], [[FileJobStateStore]],
  * [[JdbcJobStateStore]] and [[RedisJobStateStore]] must all pass these
  * cases. A suite mixes this in and supplies [[withStores]]: two store
  * instances over one storage (a directory, a database, a Redis server),
  * standing in for two processes. The in-memory store passes the same
  * instance twice.
  *
  * `storeNames` maps a case's key (`admit`, `epoch`, `race`, `absent`,
  * `lattice`, `canceled`, `unaccounted`, `shared`, `visible`) to the name of
  * the backend test it replaced, so that test keeps its ID.
  */
trait StateStoreContract extends AnyFunSuite {
  protected def withStores[A](f: (JobStateStore, JobStateStore) => A): A
  protected def storeNames: Map[String, String] = Map.empty

  private def storeCase(key: String, name: String)(body: => Any): Unit =
    test(storeNames.getOrElse(key, name))(body)

  storeCase("admit", "admission is refused while the ID is live and allowed once it is done") {
    withStores { (a, b) =>
      assert(a.tryAdmit("j1") > 0)
      assert(b.tryAdmit("j1") < 0, "PENDING must refuse")
      for (live <- Seq(JobState.Started, JobState.Retry)) {
        a.set("j1", live)
        assert(b.tryAdmit("j1") < 0, s"$live must refuse")
      }
      a.set("j1", JobState.Success, 10)
      assert(b.tryAdmit("j1") > 0, "SUCCESS frees the ID")
      b.set("j1", JobState.Failure, -1, "boom")
      assert(a.tryAdmit("j1") > 0, "FAILURE frees the ID")
      // re-admission leaves nothing of the last run behind
      assert(b.get("j1").contains(JobStatus("j1", JobState.Pending)))
    }
  }

  storeCase("epoch", "the admission epoch is returned, bumps by one and survives cancel") {
    withStores { (a, b) =>
      assert(a.epoch("x") == 0L)
      assert(a.tryAdmit("x") == 1L)
      assert(b.epoch("x") == 1L)
      assert(b.tryAdmit("x") < 0)
      assert(a.epoch("x") == 1L, "a refused admission must not bump")
      b.remove("x")
      assert(a.get("x").isEmpty)
      assert(a.epoch("x") == 1L, "cancel must not change the epoch")
      // a stale retry timer holding epoch 1 sees the re-admission
      assert(a.tryAdmit("x") == 2L)
      assert(b.epoch("x") == 2L)
      b.set("x", JobState.Success, 1)
      assert(a.tryAdmit("x") == 3L)
    }
  }

  storeCase("race", "16 racing threads over two instances admit an ID exactly once per round") {
    withStores { (a, b) =>
      val pool = Executors.newFixedThreadPool(16)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try for (round <- 1 to 5) {
        val go = new CountDownLatch(1)
        val racers = (1 to 16).toList.map { i =>
          Future { go.await(); (if (i % 2 == 0) a else b).tryAdmit("race") }
        }
        go.countDown()
        val results = Await.result(Future.sequence(racers), 60.seconds)
        assert(results.filter(_ > 0) == List(round.toLong),
          s"round $round: expected one winner with epoch $round, got $results")
        a.setIfPresent("race", JobState.Success, 0) // free the ID for the next round
      } finally pool.shutdown()
    }
  }

  storeCase("absent", "setIfPresent after remove or rollback is a no-op") {
    withStores { (a, b) =>
      a.tryAdmit("j3")
      b.remove("j3")
      a.setIfPresent("j3", JobState.Success, 7)
      assert(b.get("j3").isEmpty, "a finishing worker resurrected a canceled job")
      a.tryAdmit("j4")
      b.rollback("j4")
      a.setIfPresent("j4", JobState.Success, 7)
      assert(b.get("j4").isEmpty, "a finishing worker resurrected a rolled-back job")
      a.tryAdmit("j5")
      b.setIfPresent("j5", JobState.Started)
      assert(a.get("j5").contains(JobStatus("j5", JobState.Started)))
    }
  }

  storeCase("lattice", "group reduction lattice (core.go:230-241)") {
    withStores { (a, b) =>
      def state = b.groupStatus("g").map(_.state)
      assert(a.groupStatus("g").isEmpty, "an unknown group has no status")
      a.putGroup("g", Seq("m1", "m2"))
      a.set("m1", JobState.Success, 1)
      a.set("m2", JobState.Started)
      assert(state.contains(JobState.Started))
      a.set("m2", JobState.Retry)
      assert(state.contains(JobState.Started))
      a.set("m2", JobState.Pending)
      assert(state.contains(JobState.Pending))
      a.set("m2", JobState.Success, 2)
      assert(b.groupStatus("g").contains(GroupStatus("g", JobState.Success,
        Seq(JobStatus("m1", JobState.Success, 1), JobStatus("m2", JobState.Success, 2)))))
      a.set("m2", JobState.Failure, -1, "boom")
      assert(state.contains(JobState.Failure))
      a.set("m1", JobState.Started)
      assert(state.contains(JobState.Failure), "a failure outranks a running member")
    }
  }

  storeCase("canceled", "canceled members are left out of the group and never mask a failure") {
    withStores { (a, b) =>
      a.putGroup("g", Seq("a", "b", "c"))
      Seq("a", "b", "c").foreach(a.tryAdmit)
      a.setIfPresent("a", JobState.Success, 1)
      a.setIfPresent("b", JobState.Success, 2)
      a.setIfPresent("c", JobState.Started)
      b.remove("c") // cancel deletes from the store (core.go:268)
      val g = a.groupStatus("g").get
      assert(g.state == JobState.Success)
      assert(g.jobs.map(_.jobId) == Seq("a", "b"), "the canceled member must be left out")
      b.set("b", JobState.Failure, -1, "boom")
      assert(a.groupStatus("g").exists(_.state == JobState.Failure))
    }
  }

  storeCase("unaccounted", "a member not yet admitted or rolled back holds the group at PENDING") {
    withStores { (a, b) =>
      // putGroup lands before the submit loop (Api.postJobGroup): member "b"
      // has no entry yet and was never canceled
      a.putGroup("g", Seq("a", "b"))
      a.tryAdmit("a")
      a.setIfPresent("a", JobState.Success, 1)
      assert(b.groupStatus("g").exists(_.state == JobState.Pending))
      // a failed enqueue rolls back without a cancel mark
      assert(a.tryAdmit("b") > 0)
      b.rollback("b")
      assert(a.groupStatus("g").exists(_.state == JobState.Pending),
        "a rolled-back member must hold the group at PENDING")
      // a cancel is different: the remaining successes complete the group
      assert(b.tryAdmit("b") > 0)
      a.remove("b")
      assert(b.groupStatus("g").exists(_.state == JobState.Success))
      // re-admission clears the cancel mark: the member counts again
      assert(a.tryAdmit("b") > 0)
      b.rollback("b")
      assert(a.groupStatus("g").exists(_.state == JobState.Pending))
    }
  }

  storeCase("shared", "a second instance sees the first's writes") {
    withStores { (a, b) =>
      assert(a.tryAdmit("j1") == 1L)
      assert(b.get("j1").contains(JobStatus("j1", JobState.Pending)))
      assert(b.tryAdmit("j1") == -1L, "same ID must not admit twice while running")
      a.setIfPresent("j1", JobState.Success, 42)
      assert(b.get("j1").contains(JobStatus("j1", JobState.Success, 42)))
      assert(b.snapshot.get("j1").contains(JobStatus("j1", JobState.Success, 42)))
      assert(b.tryAdmit("j1") == 2L)
      a.putGroup("g", Seq("j1", "j2"))
      assert(b.groupJobIds("g").contains(Seq("j1", "j2")))
      b.removeGroup("g")
      assert(a.groupJobIds("g").isEmpty)
      b.remove("j1")
      assert(a.get("j1").isEmpty && !a.snapshot.contains("j1"))
    }
  }

  storeCase("visible", "re-admission never makes the ID invisible to a reader") {
    withStores { (a, b) =>
      assert(a.tryAdmit("vis") > 0)
      val stop = new AtomicBoolean(false)
      val misses = new AtomicInteger(0)
      val failure = new AtomicReference[Throwable]()
      val reader = new Thread(() =>
        try while (!stop.get) { if (b.get("vis").isEmpty) misses.incrementAndGet() }
        catch { case e: Throwable => failure.set(e) })
      reader.start()
      try (1 to 300).foreach { round =>
        a.setIfPresent("vis", JobState.Success, round)
        assert(a.tryAdmit("vis") > 0)
      } finally { stop.set(true); reader.join() }
      assert(failure.get == null, s"the reader failed: ${failure.get}")
      assert(misses.get == 0, s"the reader saw no entry ${misses.get} times")
    }
  }
}
