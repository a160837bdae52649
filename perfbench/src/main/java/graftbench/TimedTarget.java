package graftbench;

import java.util.function.BiConsumer;

import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;

import graft.core.SchemaFilter;
import graft.core.Target;

/** A delegating {@link Target} that times each catalog listing and each read
  * of the target it wraps, reporting nanoseconds under the span names
  * {@code core.Targets.tables_s} and {@code core.Targets.read_s}.
  *
  * Written in Java because {@code Target} is sealed to its own source file
  * for Scala code; the interface the Scala trait compiles to is open.
  */
public final class TimedTarget implements Target {
  private final Target inner;
  private final BiConsumer<String, Long> span;

  public TimedTarget(Target inner, BiConsumer<String, Long> span) {
    this.inner = inner;
    this.span = span;
  }

  public Target inner() { return inner; }

  @Override public String name() { return inner.name(); }

  @Override
  public scala.collection.immutable.Seq<String> tables(SparkSession spark, SchemaFilter schemas) {
    long t0 = System.nanoTime();
    try { return inner.tables(spark, schemas); }
    finally { span.accept("core.Targets.tables_s", System.nanoTime() - t0); }
  }

  @Override
  public Dataset<Row> read(SparkSession spark, String table) {
    long t0 = System.nanoTime();
    try { return inner.read(spark, table); }
    finally { span.accept("core.Targets.read_s", System.nanoTime() - t0); }
  }
}
