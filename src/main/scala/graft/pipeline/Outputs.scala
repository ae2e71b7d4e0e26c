package graft.pipeline

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors, TimeUnit}

/** One output: its Spark work, and the earlier outputs it starts after. Its
  * value is read through [[get]] by the outputs that start after it. */
final class Output[A] private[pipeline] (after: Seq[Output[_]], body: () => A) {
  private val result = new CompletableFuture[A]()

  /** The value, once this output has run; its failure is rethrown as
    * itself. */
  def get: A =
    try result.get()
    catch { case e: ExecutionException => throw e.getCause }

  private[pipeline] def failure: Option[Throwable] =
    try { result.get(); None }
    catch { case e: ExecutionException => Some(e.getCause) }

  private[pipeline] def run(): Unit = {
    // waits for each earlier output; its failure is reported by that output
    after.foreach(_.failure)
    try result.complete(body())
    catch { case e: Throwable => result.completeExceptionally(e) }
  }
}

/**
 * A set of outputs, each run on a thread of its own once the outputs it
 * starts after have finished, so their small Spark jobs share the cores
 * instead of queueing. The threads are created by the thread that calls
 * [[run]], so every job carries its Spark local properties (job group,
 * description, scheduler pool).
 */
private[pipeline] final class Outputs {
  private val outputs = scala.collection.mutable.ArrayBuffer.empty[Output[_]]

  def publish[A](after: Output[_]*)(body: => A): Output[A] = {
    val output = new Output(after, () => body)
    outputs += output
    output
  }

  /** Runs every output and returns once all of them have stopped. The first
    * failure, in output order, is rethrown as itself with the other
    * failures attached as suppressed; an output that rethrows an earlier
    * one's failure through [[Output.get]] adds nothing. */
  def run(): Unit = {
    val pool = Executors.newFixedThreadPool(math.max(outputs.size, 1))
    try {
      outputs.map(o => pool.submit(new Runnable { def run(): Unit = o.run() })).foreach(_.get())
      val failures = outputs.flatMap(_.failure).foldLeft(List.empty[Throwable]) { (seen, e) =>
        if (seen.exists(_ eq e)) seen else seen :+ e
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
