package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The size-adaptive escape kernel ([[Supersteps.adaptive]]) on its
  * own: the cap boundary (exactly `cap` rows run on the driver, `cap+1`
  * do not), one budget shared by all frames of a call, probing that
  * stops at the first frame over the budget, and the bigint cast that
  * lets int-typed inputs reach the driver twins. */
class EscapeKernelSpec extends SparkSpec {
  import spark.implicits._

  /** Which branch one kernel call took under `cap`, with the driver
    * payload (None on the distributed branch). */
  private def run(cap: Long, frames: DataFrame*): Option[Seq[Seq[(Long, Long)]]] = {
    val (got, scope) = Supersteps.withCap(cap) {
      Supersteps.adaptive(frames: _*) { ps =>
        Option(ps.map(_.pairs.toSeq))
      }(None)
    }
    assert(scope.onDriver.get + scope.distributed.get == 1)
    assert(scope.onDriver.get == (if (got.isDefined) 1 else 0))
    got
  }

  /** A frame that fails the moment a job evaluates it. */
  private def boom: DataFrame =
    spark.range(1).select(raise_error(lit("probed")).as("a"), lit(0L).as("b"))

  test("a frame of exactly cap rows runs on the driver, cap+1 does not") {
    val f = Seq((3L, 4L), (1L, 2L), (5L, 6L)).toDF("a", "b")
    assert(run(3L, f).map(_.head.sorted) == Some(Seq((1L, 2L), (3L, 4L), (5L, 6L))))
    assert(run(2L, f).isEmpty)
    // an empty frame fits any positive cap; a cap of 0 never probes
    assert(run(1L, f.where(lit(false))) == Some(Seq(Nil)))
    assert(run(0L, boom).isEmpty)
  }

  test("all frames of one call share one budget of cap rows") {
    val a = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val b = Seq((7L, 8L), (8L, 9L), (9L, 7L)).toDF("a", "b")
    // each frame alone fits a cap of 3, together they need 5
    assert(run(5L, a, b).map(_.map(_.size)) == Some(Seq(2, 3)))
    assert(run(4L, a, b).isEmpty)
    assert(run(3L, a).isDefined && run(3L, b).isDefined)
    // the last frame may use exactly what the earlier ones left
    assert(run(5L, a, b, a.where(lit(false))).isDefined)
  }

  test("probing stops at the first frame over the budget") {
    val big = (1L to 5L).map(i => (i, i)).toDF("a", "b")
    // `boom` would throw if its probe ran
    assert(run(4L, big, boom).isEmpty)
    assert(run(3L, big.limit(2), big, boom).isEmpty)
    intercept[Exception](run(10L, big, boom))
  }

  test("int-typed columns reach the driver as bigint") {
    val f = Seq((1, 2), (2, 3)).toDF("a", "b")
    assert(f.schema.map(_.dataType.typeName) == Seq("integer", "integer"))
    assert(run(5L, f).map(_.head.sorted) == Some(Seq((1L, 2L), (2L, 3L))))
  }

  test("the scope a thread captured stays in force on the thread it forks") {
    val f = Seq((1L, 2L)).toDF("a", "b")
    val (_, scope) = Supersteps.withCap(0L) {
      val captured = Supersteps.currentScope
      val fut = scala.concurrent.Future(Supersteps.inScope(captured) {
        Supersteps.adaptive(f)(_ => 1)(2)
      })(scala.concurrent.ExecutionContext.global)
      assert(scala.concurrent.Await.result(fut,
        scala.concurrent.duration.Duration.Inf) == 2)
    }
    assert(scope.distributed.get == 1 && scope.onDriver.get == 0)
  }
}
