package graft.ingest

import java.io.IOException

import org.scalatest.funsuite.AnyFunSuite

/** `Fetcher.withRetry`, the retry policy of every CDN upload, parser-input
  * write and report write (reference tenacity policy,
  * `api_client.py:148-151`), with 1–2 ms backoffs.
  */
class FetcherSpec extends AnyFunSuite {

  /** Runs `withRetry(attempts)` over a body that throws `error(call)` on
    * every call before `succeedOn`; returns the outcome and the calls made.
    */
  private def retry(attempts: Int, succeedOn: Int,
      error: Int => Throwable): (Either[Throwable, Int], Int) = {
    var calls = 0
    val outcome =
      try Right(Fetcher.withRetry(attempts, minBackoffMs = 1, maxBackoffMs = 2) {
        calls += 1
        if (calls < succeedOn) throw error(calls)
        calls
      })
      catch { case t: Throwable => Left(t) }
    (outcome, calls)
  }

  test("success on attempt k returns after exactly k calls") {
    for (k <- 1 to 4)
      assert(retry(4, k, n => new IOException(s"fail $n")) === ((Right(k), k)), k)
  }

  test("attempts failures rethrow the last exception") {
    val (outcome, calls) = retry(3, Int.MaxValue, n => new IOException(s"fail $n"))
    assert(calls === 3)
    val e = outcome.swap.getOrElse(fail("no exception"))
    assert(e.isInstanceOf[IOException])
    assert(e.getMessage === "fail 3")
  }

  test("an Error is not retried") {
    val (outcome, calls) = retry(4, Int.MaxValue, n => new Error(s"error $n"))
    assert(calls === 1)
    assert(outcome.swap.map(_.getMessage) === Right("error 1"))
  }
}
