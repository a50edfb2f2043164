package graft

import java.util.concurrent.LinkedBlockingQueue

/** Collects what threads named `prefix…` throw past their own code while
  * `body` runs: the default uncaught-exception handler is swapped for the
  * duration, and other threads' failures still reach the previous one. */
object Uncaught {
  def in[A](prefix: String)(body: LinkedBlockingQueue[Throwable] => A): A = {
    val seen = new LinkedBlockingQueue[Throwable]()
    val prev = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler { (t, e) =>
      if (t.getName.startsWith(prefix)) seen.add(e)
      else if (prev != null) prev.uncaughtException(t, e)
      else e.printStackTrace()
    }
    try body(seen) finally Thread.setDefaultUncaughtExceptionHandler(prev)
  }
}
