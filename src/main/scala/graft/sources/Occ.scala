package graft.sources

/** The optimistic-concurrency commit every log-structured table here
  * shares — the log protocol of Delta Lake (Armbrust et al., VLDB 2020,
  * §3; PAPERS.md), which Iceberg's metadata-pointer swap repeats:
  *
  *   1. read the head once and PIN it as the base;
  *   2. the site's attempt checks for conflicts against that base,
  *      stages its commit-private files and claims version base + 1 by
  *      atomic put-if-absent ([[AtomicCreate]]);
  *   3. an attempt that loses the put deletes what it staged and answers
  *      None — the only lost-race signal — and the next try re-pins a
  *      fresh head.
  *
  * Because the base is read here and handed to the attempt, a head that
  * moves between the conflict checks and the put can only make the put
  * lose: no site can validate one head and commit against another.
  * Exceptions thrown by an attempt (a detected conflict, a bad input)
  * propagate at once, without a retry. */
private[graft] object Occ {

  /** Tries per commit before the routine gives up. */
  private[graft] val MaxAttempts = 10

  def commit[B, A](op: String, table: String)(readHead: => B)(
      attempt: B => Option[A]): A =
    Iterator.continually(attempt(readHead)).take(MaxAttempts)
      .collectFirst { case Some(a) => a }
      .getOrElse(throw new IllegalStateException(
        s"$op on $table lost $MaxAttempts commit races in a row to " +
          "concurrent writers"))
}
