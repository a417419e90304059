import java.io.BufferedWriter;
import java.io.IOException;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.Arrays;
import java.util.concurrent.locks.LockSupport;

/**
 * Wall-clock sampler of one streaming query's stream thread, wrapped
 * around perfbench.Main from outside (no perfbench file changes).
 *
 * <p>Run with the classpath perfbench.Main runs with (its classes and
 * Spark's jars), as a single-file source program:
 *
 * <pre>
 *   java [perfbench's JVM options] -cp "$CLASSES:$SPARK_JARS/*" \
 *     tools/stream_wall/StreamWall.java --query live3 --out samples.txt \
 *     [--interval-us 3300] -- [perfbench.Main arguments]
 * </pre>
 *
 * <p>It starts perfbench.Main in this JVM and, on a daemon thread, waits
 * for the thread named "stream execution thread for QUERY [id = ...]",
 * then records its stack every interval until it ends. A streaming
 * listener on the session records each micro-batch's progress. The
 * output has one line per record:
 *
 * <pre>
 *   P  batchId  startEpochMs  triggerExecutionMs  numInputRows
 *   S  epochMs  frame|frame|...     (innermost frame first, Class.method)
 * </pre>
 *
 * <p>tools/stream_wall/timeline.py turns it into a per-trigger phase table.
 */
public class StreamWall {

  public static void main(String[] args) throws Exception {
    String query = null, out = null;
    long intervalNs = 3_300_000L;
    int i = 0;
    for (; i < args.length && !args[i].equals("--"); i += 2) {
      switch (args[i]) {
        case "--query": query = args[i + 1]; break;
        case "--out": out = args[i + 1]; break;
        case "--interval-us": intervalNs = Long.parseLong(args[i + 1]) * 1000L; break;
        default: throw new IllegalArgumentException("unknown option " + args[i]);
      }
    }
    if (query == null || out == null || i >= args.length)
      throw new IllegalArgumentException(
          "usage: StreamWall --query NAME --out FILE [--interval-us N] -- MAIN_ARGS...");
    String[] mainArgs = Arrays.copyOfRange(args, i + 1, args.length);
    BufferedWriter w = Files.newBufferedWriter(Paths.get(out), StandardCharsets.UTF_8);
    Runtime.getRuntime().addShutdownHook(new Thread(() -> close(w)));
    String name = query;
    long every = intervalNs;
    Thread sampler = new Thread(() -> sample(name, every, w), "stream-wall-sampler");
    sampler.setDaemon(true);
    sampler.start();
    Thread listener = new Thread(() -> listen(name, w), "stream-wall-listener");
    listener.setDaemon(true);
    listener.start();
    Class.forName("perfbench.Main").getMethod("main", String[].class)
        .invoke(null, (Object) mainArgs);
    close(w);
  }

  private static void close(BufferedWriter w) {
    synchronized (w) {
      try { w.close(); } catch (IOException e) { /* already closed */ }
    }
  }

  private static void write(BufferedWriter w, String line) {
    synchronized (w) {
      try { w.write(line); w.write('\n'); } catch (IOException e) { /* closed at exit */ }
    }
  }

  /** Samples the query's stream thread until it ends. */
  private static void sample(String query, long intervalNs, BufferedWriter w) {
    String prefix = "stream execution thread for " + query + " ";
    Thread t = null;
    while (t == null) {
      for (Thread c : Thread.getAllStackTraces().keySet())
        if (c.getName().startsWith(prefix)) t = c;
      if (t == null) LockSupport.parkNanos(20_000_000L);
    }
    StringBuilder sb = new StringBuilder();
    long next = System.nanoTime();
    while (t.isAlive()) {
      StackTraceElement[] st = t.getStackTrace();
      sb.setLength(0);
      sb.append("S\t").append(System.currentTimeMillis()).append('\t');
      for (int k = 0; k < st.length; k++) {
        if (k > 0) sb.append('|');
        sb.append(st[k].getClassName()).append('.').append(st[k].getMethodName());
      }
      write(w, sb.toString());
      next += intervalNs;
      long wait = next - System.nanoTime();
      if (wait > 0) LockSupport.parkNanos(wait);
      else next = System.nanoTime();
    }
  }

  /** Adds a progress listener once the session exists. */
  private static void listen(String query, BufferedWriter w) {
    try {
      Class<?> ss = Class.forName("org.apache.spark.sql.SparkSession");
      Object session = null;
      while (session == null) {
        scala.Option<?> s = (scala.Option<?>) ss.getMethod("getDefaultSession").invoke(null);
        if (s.isDefined()) session = s.get();
        else LockSupport.parkNanos(20_000_000L);
      }
      Object streams = ss.getMethod("streams").invoke(session);
      streams.getClass().getMethod("addListener",
          org.apache.spark.sql.streaming.StreamingQueryListener.class)
          .invoke(streams, new Progress(query, w));
    } catch (ReflectiveOperationException e) {
      throw new IllegalStateException(e);
    }
  }

  /** Records the progress of the named query's micro-batches. */
  static final class Progress extends org.apache.spark.sql.streaming.StreamingQueryListener {
    private final String query;
    private final BufferedWriter w;

    Progress(String query, BufferedWriter w) { this.query = query; this.w = w; }

    @Override public void onQueryStarted(QueryStartedEvent e) {}
    @Override public void onQueryTerminated(QueryTerminatedEvent e) {}

    @Override public void onQueryProgress(QueryProgressEvent e) {
      org.apache.spark.sql.streaming.StreamingQueryProgress p = e.progress();
      if (!query.equals(p.name())) return;
      Long trigger = p.durationMs().get("triggerExecution");
      long start = java.time.Instant.parse(p.timestamp()).toEpochMilli();
      write(w, "P\t" + p.batchId() + "\t" + start + "\t" + (trigger == null ? 0 : trigger)
          + "\t" + p.numInputRows());
    }
  }
}
