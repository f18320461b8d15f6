package graft.etl

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.util.{Failure, Success, Try}

import graft.time.DateInterval

/**
 * A named, composable unit of ETL work: given a [[Stage.Context]] carrying the
 * SparkSession, the processing date and an input value of type `I`, it produces
 * a value of type `O` (or a failure).
 *
 * Stages compose monadically, so pipelines read as for-comprehensions:
 *
 * {{{
 * val pipeline = for {
 *   raw   <- Stage.source("read")(ctx => ctx.spark.read.parquet(path(ctx.date)))
 *   clean <- Stage.transform[Row, Doc]("clean")(ctx => cleanse(ctx.value))
 *   _     <- Stage.sink[Doc]("write")(ctx => ctx.value.write.parquet(out))
 * } yield ()
 * pipeline.run(Stage.Context(spark, Day(2026, 8, 12)))
 * }}}
 *
 * Semantics follow the reference framework (reference core Stage.scala:22-139):
 * execution is driven through `Context.run` so runners can intercept every
 * stage for retry/monitoring; `sink` returns its input; `sequence` is
 * fail-fast while `sequenceAll` runs everything and aggregates failures.
 */
sealed trait Stage[-I, +O] { self =>
  def name: String

  def run(ctx: Stage.Context[I]): Try[O]

  /** Transform the result of this stage without introducing a new stage. */
  def map[U](f: O => U): Stage[I, U] = new Stage[I, U] {
    override def name = self.name
    override def run(ctx: Stage.Context[I]): Stage.Result[U] = self.run(ctx).map(f)
  }

  /** Chain a dependent stage; the next stage sees this stage's output as its context value. */
  def flatMap[U](f: O => Stage[O, U]): Stage[I, U] = new Stage[I, U] {
    override def name = self.name
    override def run(ctx: Stage.Context[I]): Stage.Result[U] =
      self.run(ctx).flatMap(out => f(out).run(ctx.withValue(out)))
  }

  /** Chain a stage that ignores this stage's output value (but still receives it in context). */
  def andThen[U](next: Stage[O, U]): Stage[I, U] = flatMap(_ => next)

  /**
   * Run `cleanup` after this stage completes, on success AND failure —
   * `finally` semantics for resources a pipeline acquires mid-flight
   * (persisted frames, temp dirs). On the failure path a cleanup error is
   * suppressed (the original failure wins); on the success path it fails
   * the stage, since the pipeline's work is otherwise done.
   */
  def ensuring(cleanup: () => Unit): Stage[I, O] = new Stage[I, O] {
    override def name = self.name
    override def run(ctx: Stage.Context[I]): Stage.Result[O] = self.run(ctx) match {
      case s @ Success(_)   => Try(cleanup()).flatMap(_ => s)
      case f @ Failure(_)   => Try(cleanup()); f
    }
  }

  /** Alias for [[andThen]]. */
  def ~>[U](next: Stage[O, U]): Stage[I, U] = andThen(next)
}

object Stage {
  type Result[A] = Try[A]

  /**
   * Carries everything a stage needs: the session, the processing date and the
   * current pipeline value. Runners subclass this to add retry and lifecycle
   * events around `run` (see [[SparkRunner]]).
   */
  abstract class Context[+I](val spark: SparkSession, val date: DateInterval, val value: I) {
    def withValue[U](value: U): Context[U]
    def run[O](stage: Stage[I, O], result: => O): Result[O] = Try(result)
  }

  object Context {
    /** A plain context with no interception; the initial value is the session itself. */
    def apply(spark: SparkSession, date: DateInterval): Context[SparkSession] =
      new SimpleContext(spark, date, spark)
  }

  class SimpleContext[+I](spark: SparkSession, date: DateInterval, value: I)
      extends Context[I](spark, date, value) {
    override def withValue[U](value: U): Context[U] = new SimpleContext(spark, date, value)
  }

  /** A pipeline whose stages materialize through one [[graft.util.Held]]
    * owner, which frees all it holds when the pipeline ends, on success
    * and on failure. A runner builds the stages once per date. */
  def holding[I, O](build: graft.util.Held => Stage[I, O]): Stage[I, O] = {
    val held = new graft.util.Held
    build(held).ensuring(() => held.releaseAll())
  }

  /** Create a stage from a function over the context. */
  def apply[I, O](stageName: String)(f: Context[I] => O): Stage[I, O] = new Stage[I, O] {
    override def name = stageName
    override def run(ctx: Context[I]): Result[O] = ctx.run(this, f(ctx))
  }

  /** Read from a data source. Usable anywhere in a pipeline: the context value is reset to the session. */
  def source[O](name: String)(read: Context[SparkSession] => Dataset[O]): Stage[Any, Dataset[O]] =
    Stage[Any, Dataset[O]](name)(ctx => read(ctx.withValue(ctx.spark)))

  /** Transform the current dataset. */
  def transform[I, O](name: String)(f: Context[Dataset[I]] => Dataset[O]): Stage[Dataset[I], Dataset[O]] =
    Stage(name)(f)

  /** Write the current dataset somewhere; passes the input through unchanged. */
  def sink[T](name: String)(write: Context[Dataset[T]] => Unit): Stage[Dataset[T], Dataset[T]] =
    Stage(name) { ctx: Context[Dataset[T]] => write(ctx); ctx.value }

  /** Run stages in order, stopping at the first failure. */
  def sequence[I, O](stages: Seq[Stage[I, O]]): Stage[I, Seq[O]] = new Stage[I, Seq[O]] {
    override def name = "sequence"
    override def run(ctx: Context[I]): Result[Seq[O]] = {
      @scala.annotation.tailrec
      def loop(remaining: Seq[Stage[I, O]], acc: Vector[O]): Result[Seq[O]] =
        remaining match {
          case Seq() => Success(acc)
          case head +: tail =>
            head.run(ctx) match {
              case Success(out)     => loop(tail, acc :+ out)
              case Failure(failure) => Failure(failure)
            }
        }
      loop(stages, Vector.empty)
    }
  }

  /** Raised by [[sequenceAll]] with every stage failure attached. */
  case class SequenceAllException[I, O](failures: Seq[(Stage[I, O], Throwable)]) extends Exception {
    override def getMessage: String = {
      val lines = failures.map { case (stage, e) =>
        s"  * stage '${stage.name}' threw ${e.getClass.getName}: ${e.getMessage}"
      }
      (s"sequenceAll: ${failures.size} of the stages failed" +: lines).mkString("\n")
    }
  }

  /** Run every stage regardless of failures; fail afterwards if any failed. */
  def sequenceAll[I, O](stages: Seq[Stage[I, O]]): Stage[I, Seq[O]] = new Stage[I, Seq[O]] {
    override def name = "sequenceAll"
    override def run(ctx: Context[I]): Result[Seq[O]] = {
      val results = stages.map(stage => stage -> stage.run(ctx))
      val failures = results.collect { case (stage, Failure(e)) => stage -> e }
      if (failures.isEmpty) Success(results.map(_._2.get))
      else Failure(SequenceAllException(failures))
    }
  }

  /**
   * Pass the context value through. `flatMap` on identity does not count as a
   * stage execution of identity itself — the downstream stage runs directly.
   */
  def identity[T]: Stage[T, T] = new Stage[T, T] { self =>
    override def name = "identity"
    override def run(ctx: Context[T]): Result[T] = ctx.run(this, ctx.value)
    override def flatMap[U](f: T => Stage[T, U]): Stage[T, U] = new Stage[T, U] {
      override def name = self.name
      override def run(ctx: Context[T]): Result[U] =
        Try(f(ctx.value)).flatMap(_.run(ctx))
    }
  }
}
