package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.streaming.TaskDef

/** Task registries whose failures follow the generator's schedule.
  *
  * A payload names at most one failing node in its `fail` field, as
  * `<node>:once` (fails on the first attempt only) or `<node>:perm`
  * (fails on every attempt). Attempts are counted per
  * (namespace, node, record), so a redelivered record sees its second
  * attempt. Spark runs `local[N]`, so executor threads share this JVM and
  * the counters. */
object Schedule {
  private val counts = new ConcurrentHashMap[String, AtomicInteger]()
  private val Eid = "\"eid\":\"([^\"]+)\"".r

  def reset(): Unit = counts.clear()

  /** Invocation counts of one namespace, keyed `node|eid`. */
  def snapshot(ns: String): Map[String, Int] =
    counts.asScala.collect { case (k, v) if k.startsWith(ns + "|") =>
      k.stripPrefix(ns + "|") -> v.get() }.toMap

  private def attempt(ns: String, node: String, id: String): Int =
    counts.computeIfAbsent(s"$ns|$node|$id", _ => new AtomicInteger())
      .incrementAndGet()

  def node(ns: String, name: String): String => Try[Unit] = payload => Try {
    val id = Eid.findFirstMatchIn(payload).map(_.group(1)).getOrElse(payload)
    val n = attempt(ns, name, id)
    if (payload.contains(s""""fail":"$name:perm"""") ||
        (n == 1 && payload.contains(s""""fail":"$name:once"""")))
      throw new RuntimeException(s"$name failed on attempt $n")
  }

  /** Trickle: two roots, the first with a sub-task. */
  def trickle(ns: String): Seq[TaskDef] = Seq(
    TaskDef("t1", node(ns, "t1"), Seq(TaskDef("c1", node(ns, "c1")))),
    TaskDef("t2", node(ns, "t2")))

  /** Backlog: one processOne task that never fails. */
  def backlog(ns: String): Seq[TaskDef] =
    Seq(TaskDef("processOne", node(ns, "processOne")))

  /** processAll master task: counts one invocation per batch group. */
  def master(ns: String): (String, Seq[String]) => Try[Unit] =
    (group, _) => Try { attempt(ns, "processAll", group); () }
}
