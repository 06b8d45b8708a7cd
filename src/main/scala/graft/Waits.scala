package graft

import scala.concurrent.{Await, Awaitable, TimeoutException}
import scala.concurrent.duration._

/** A driver thread waited on concurrently submitted Spark jobs past its
  * bound: a stuck or starved job surfaces as this named error instead of
  * hanging the driver. */
final class DriverWaitTimeout(what: String, bound: FiniteDuration,
                              cause: TimeoutException)
  extends RuntimeException(s"graft: $what did not finish within $bound — " +
    "a Spark job is stuck or starved", cause)

/** Bounded waits for the driver-side thread pools that overlap
  * independent jobs ([[graft.pipeline.Reports]], `ann_recall`). */
private[graft] object Waits {

  /** Far above any healthy run of those callers, finite so a hang ends. */
  val Bound: FiniteDuration = 2.hours

  def await[T](f: Awaitable[T], what: String, bound: FiniteDuration = Bound): T =
    try Await.result(f, bound)
    catch { case e: TimeoutException => throw new DriverWaitTimeout(what, bound, e) }
}
