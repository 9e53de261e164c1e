package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.SparkSession

/** A derived value built at most once per (Spark application, scale-factor
  * dir, extra key) and held for the JVM's lifetime — codebooks, edge
  * lists, persisted manifests, staged landing dirs. Keyed by the
  * application because checkpointed frames and catalog tables are bound
  * to the context that built them; beyond that only the dir string is
  * keyed, so an input dir must not change while a JVM holds its memos.
  *
  * Each key holds a lazy cell: concurrent callers of a cold key block on
  * ONE build, and a build that throws leaves the cell empty so the next
  * call retries it. `consumers` names the graded queries that read the
  * value — a memo that declares any is a family Bench evicts after its
  * last consumer (see [[SparkEntry.memoFamilies]]); `release` frees a
  * held value's resources (checkpoint blocks) on [[evict]].
  */
final class Memo[K, V] private (val family: String,
                                val consumers: Set[String],
                                release: V => Unit,
                                build: (SparkSession, String, K) => V) {
  private val cells =
    new ConcurrentHashMap[(String, String, K), Memo.Cell[V]]()

  def apply(s: SparkSession, d: String, k: K): V =
    cells.computeIfAbsent((s.sparkContext.applicationId, d, k),
      _ => new Memo.Cell(() => build(s, d, k))).get

  def apply(s: SparkSession, d: String)(implicit unit: Unit <:< K): V =
    apply(s, d, unit(()))

  /** Drop every held value, running `release` on those already built. */
  def evict(): Unit = cells.keySet.forEach { k =>
    Option(cells.remove(k)).flatMap(_.built).foreach(release)
  }
}

object Memo {
  /** The memos one owner declares, in declaration order. */
  final class Registry {
    private[Memo] val memos = new ConcurrentLinkedQueue[Memo[_, _]]()
    def all: Seq[Memo[_, _]] = {
      import scala.jdk.CollectionConverters._
      memos.asScala.toSeq
    }
  }

  private final class Cell[V](init: () => V) {
    @volatile private var value: Option[V] = None
    def built: Option[V] = value
    def get: V = value.getOrElse(synchronized {
      value.getOrElse { val v = init(); value = Some(v); v }
    })
  }

  /** A memo keyed on (application, dir) whose values need no release. */
  def apply[V](family: String, consumers: Set[String] = Set.empty)(
      build: (SparkSession, String) => V)(
      implicit registry: Registry): Memo[Unit, V] =
    releasing(family, consumers, (_: V) => ())(build)

  /** A memo keyed on (application, dir) that runs `release` on each held
    * value it evicts. */
  def releasing[V](family: String, consumers: Set[String],
                   release: V => Unit)(build: (SparkSession, String) => V)(
      implicit registry: Registry): Memo[Unit, V] =
    register(new Memo[Unit, V](family, consumers, release,
      (s, d, _) => build(s, d)))

  /** A memo keyed on (application, dir, k). */
  def keyed[K, V](family: String)(build: (SparkSession, String, K) => V)(
      implicit registry: Registry): Memo[K, V] =
    register(new Memo(family, Set.empty, (_: V) => (), build))

  private def register[K, V](m: Memo[K, V])(
      implicit registry: Registry): Memo[K, V] = {
    registry.memos.add(m)
    m
  }
}
