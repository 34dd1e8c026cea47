package postboundspark;

import java.util.Locale;
import org.apache.hadoop.fs.Path;
import org.apache.spark.sql.ExperimentalMethods;
import org.apache.spark.sql.catalyst.TableIdentifier;
import org.apache.spark.sql.catalyst.expressions.Attribute;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.catalyst.plans.logical.Statistics;
import org.apache.spark.sql.catalyst.trees.TreeNodeTag;
import org.apache.spark.sql.execution.FileSourceScanExec;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.execution.SparkStrategy;
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec;
import org.apache.spark.sql.execution.adaptive.QueryStageExec;
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec;
import org.apache.spark.sql.execution.metric.SQLMetric;
import scala.Option;
import scala.collection.immutable.Seq;
import scala.math.BigInt;

/**
 * JVM-side plan-time statistics injection for Catalyst.
 *
 * Why a compiled helper: py4j flattens {@code scala.math.BigInt} (a
 * java.lang.Number) to a Python int in BOTH directions, so a
 * {@link Statistics} object can neither be built nor copied from the
 * Python side. Every BigInt stays strictly inside the JVM; the bridge
 * only carries decimal strings and plan references.
 *
 * Why a strategy: {@code QueryExecution.sparkPlan} plans against a
 * {@code clone()} of the optimized plan, and the clone resets every
 * node's {@code statsCache} - but it preserves tree-node TAGS. So the
 * Python side tags target nodes with the doctored Statistics, and this
 * class doubles as a {@link SparkStrategy} registered through
 * {@code ExperimentalMethods.extraStrategies}: extra strategies run
 * FIRST in every planning pass, so {@link #apply} walks the (cloned)
 * subtree, copies each tag into the node's statsCache, and declines to
 * produce a physical plan (empty Seq). Join-strategy selection and
 * build-side choice then read the injected numbers through the very
 * cache that was just seeded - zero writes, zero plan rewrites.
 *
 * Mirrors rbergm/PostBOUND's pg_lab cardinality hints
 * (postbound/postgres.py:2343-2460) which patch the planner's row
 * estimates for arbitrary intermediates at plan time.
 *
 * The same class also serves plan introspection: {@link #digest} returns
 * both plans of a {@link QueryExecution} in one call, so Python reads an
 * executed query's estimates and actuals without a py4j round trip per
 * plan node. Loading the class does not register the strategy.
 */
public final class PlanStatsInjector extends SparkStrategy {

    /** Tag carrying injected Statistics across plan clones. */
    public static final TreeNodeTag<Statistics> TAG =
            new TreeNodeTag<>("postbound_spark.injected_stats");

    private static BigInt big(String decimal) {
        return new BigInt(new java.math.BigInteger(decimal));
    }

    // ---- tagging API (called from Python before planning) ----

    /** Tag {@code plan} so every planning pass sees the injected numbers.
     *  Column-level stats are dropped on purpose: a researcher-chosen row
     *  count invalidates whatever histograms the default estimate had. */
    public void tag(LogicalPlan plan, String sizeInBytes, String rowCount) {
        Statistics doctored = new Statistics(
                big(sizeInBytes),
                Option.apply(big(rowCount)),
                Statistics.apply$default$3(),
                Statistics.apply$default$4());
        plan.setTagValue(TAG, doctored);
    }

    /** Remove injection tags and stale stats caches from the whole tree. */
    public void clearAll(LogicalPlan plan) {
        plan.unsetTagValue(TAG);
        plan.statsCache_$eq(Option.empty());
        Seq<LogicalPlan> kids = plan.children();
        for (int i = 0; i < kids.size(); i++) {
            clearAll((LogicalPlan) kids.apply(i));
        }
    }

    // ---- strategy side: seed statsCache from tags, never plan ----

    private void seed(LogicalPlan node) {
        Option<Statistics> tagged = node.getTagValue(TAG);
        if (tagged.isDefined()) {
            node.statsCache_$eq(tagged);
        }
        Seq<LogicalPlan> kids = node.children();
        for (int i = 0; i < kids.size(); i++) {
            seed((LogicalPlan) kids.apply(i));
        }
    }

    @Override
    @SuppressWarnings("unchecked")
    public Seq<SparkPlan> apply(LogicalPlan plan) {
        seed(plan);
        return (Seq<SparkPlan>) (Seq<?>) scala.collection.immutable.Nil$.MODULE$;
    }

    /** Register this instance as an extra planning strategy (idempotent:
     *  one registration per class name survives re-instantiation). */
    public void register(ExperimentalMethods experimental) {
        Seq<SparkStrategy> current = experimental.extraStrategies();
        java.util.ArrayList<SparkStrategy> next = new java.util.ArrayList<>();
        for (int i = 0; i < current.size(); i++) {
            SparkStrategy s = current.apply(i);
            if (s.getClass().getName().equals(getClass().getName())) {
                continue; // replace any previously loaded copy of us
            }
            next.add(s);
        }
        next.add(this);
        experimental.extraStrategies_$eq(
                scala.jdk.javaapi.CollectionConverters.asScala(next).toSeq());
    }

    /** Remove every registered copy of this strategy class, restoring the
     *  session's planner to its pre-injection state. Without this, the
     *  strategy keeps walking every plan tree on every planning pass for
     *  the rest of the session even after the experiment ends. */
    public void deregister(ExperimentalMethods experimental) {
        Seq<SparkStrategy> current = experimental.extraStrategies();
        java.util.ArrayList<SparkStrategy> next = new java.util.ArrayList<>();
        for (int i = 0; i < current.size(); i++) {
            SparkStrategy s = current.apply(i);
            if (!s.getClass().getName().equals(getClass().getName())) {
                next.add(s);
            }
        }
        experimental.extraStrategies_$eq(
                scala.jdk.javaapi.CollectionConverters.asScala(next).toSeq());
    }

    /** Number of registered copies of this strategy class (test hook). */
    public int registeredCount(ExperimentalMethods experimental) {
        Seq<SparkStrategy> current = experimental.extraStrategies();
        int n = 0;
        for (int i = 0; i < current.size(); i++) {
            if (current.apply(i).getClass().getName()
                    .equals(getClass().getName())) {
                n++;
            }
        }
        return n;
    }

    // ---- introspection (decimal strings keep BigInt JVM-side) ----

    /** The row count the planner would see for {@code plan} after tag
     *  seeding ("" when no estimate is available). */
    public String visibleRowCount(LogicalPlan plan) {
        seed(plan);
        Option<BigInt> rc = plan.stats().rowCount();
        return rc.isEmpty() ? "" : rc.get().toString();
    }

    /** The sizeInBytes the planner would see for {@code plan}. */
    public String visibleSizeInBytes(LogicalPlan plan) {
        seed(plan);
        return plan.stats().sizeInBytes().toString();
    }

    // ---- plan digest: both plans of one execution in one call ----

    /** Both plans of {@code qe} as one JSON object, each a post-order list
     *  of nodes (a node's children precede it; {@code arity} says how many
     *  of the preceding subtrees are its children):
     *  <ul>
     *  <li>{@code "logical"}: the optimized plan, one
     *      {@code [name, arity, rowCount, sizeInBytes, rowWidth]} per node.
     *      {@code rowCount} and {@code sizeInBytes} are Catalyst's integers
     *      as decimal strings ({@code rowCount} null when the plan has no
     *      row estimate; both null when {@code stats()} fails);
     *      {@code rowWidth} is Catalyst's per-row width convention, 8 plus
     *      each output attribute's {@code defaultSize};</li>
     *  <li>{@code "physical"}: the executed plan with
     *      {@code AdaptiveSparkPlan} and query stages unwrapped, one
     *      {@code [name, arity, numOutputRows, table]} per node
     *      ({@code numOutputRows} null when the node has no such metric
     *      and {@code "unreadable"} when reading its metrics fails,
     *      {@code table} null except on scans that resolve to a base
     *      table).</li>
     *  </ul>
     *  {@code withPhysical=false} leaves {@code "physical"} null, so a
     *  caller that only needs estimates does not force physical planning
     *  of a query that has not run. Nothing here prints a double:
     *  integers stay exact on the way to Python. */
    public String digest(QueryExecution qe, boolean withPhysical) {
        StringBuilder out = new StringBuilder("{\"logical\":[");
        logical(qe.optimizedPlan(), out);
        // every node ends in a comma and a plan has at least one node
        out.setCharAt(out.length() - 1, ']');
        if (!withPhysical) {
            return out.append(",\"physical\":null}").toString();
        }
        out.append(",\"physical\":[");
        SparkPlan executed;
        try {
            executed = qe.executedPlan();
        } catch (RuntimeException e) {
            // an AQE root whose final plan cannot resolve: the pre-AQE plan
            executed = qe.sparkPlan();
        }
        physical(executed, out);
        out.setCharAt(out.length() - 1, ']');
        out.append('}');
        return out.toString();
    }

    private static void logical(LogicalPlan node, StringBuilder out) {
        Seq<LogicalPlan> kids = node.children();
        for (int i = 0; i < kids.size(); i++) {
            logical(kids.apply(i), out);
        }
        String rows = null;
        String size = null;
        try {
            Statistics stats = node.stats();
            size = stats.sizeInBytes().toString();
            if (stats.rowCount().isDefined()) {
                rows = stats.rowCount().get().toString();
            }
        } catch (RuntimeException e) {
            // a foreign node without statistics: both estimates unknown
        }
        int width = 8;
        Seq<Attribute> output = node.output();
        for (int i = 0; i < output.size(); i++) {
            width += output.apply(i).dataType().defaultSize();
        }
        out.append('[');
        quote(node.nodeName(), out).append(',').append(kids.size()).append(',');
        quote(rows, out).append(',');
        quote(size, out).append(',').append(width).append("],");
    }

    private static void physical(SparkPlan node, StringBuilder out) {
        node = unwrap(node);
        Seq<SparkPlan> kids = node.children();
        for (int i = 0; i < kids.size(); i++) {
            physical(kids.apply(i), out);
        }
        String rows = "null";
        try {
            Option<SQLMetric> metric = node.metrics().get("numOutputRows");
            if (metric.isDefined()) {
                rows = Long.toString(metric.get().value());
            }
        } catch (RuntimeException e) {
            rows = "\"unreadable\"";
        }
        out.append('[');
        quote(node.nodeName(), out).append(',').append(kids.size()).append(',');
        out.append(rows).append(',');
        quote(scanTable(node), out).append("],");
    }

    /** The plan an AQE root or a query stage stands for. */
    private static SparkPlan unwrap(SparkPlan node) {
        while (true) {
            if (node instanceof AdaptiveSparkPlanExec) {
                node = ((AdaptiveSparkPlanExec) node).executedPlan();
            } else if (node instanceof QueryStageExec) {
                node = ((QueryStageExec) node).plan();
            } else {
                return node;
            }
        }
    }

    /** Base table a scan reads: the catalog identifier when there is
     *  one, else the basename of the first root path without its
     *  extension ({@code .../title.parquet} is {@code title}), lower
     *  case, as {@code planstats._leaf_table} names logical leaves. A
     *  cached scan reads through to the first such scan of its cached
     *  plan. Null for anything else. */
    private static String scanTable(SparkPlan node) {
        if (node instanceof FileSourceScanExec) {
            FileSourceScanExec scan = (FileSourceScanExec) node;
            Option<TableIdentifier> id = scan.tableIdentifier();
            if (id.isDefined()) {
                return id.get().table().toLowerCase(Locale.ROOT);
            }
            Seq<Path> roots = scan.relation().location().rootPaths();
            if (roots.isEmpty()) {
                return null;
            }
            String base = roots.apply(0).getName();
            int dot = base.lastIndexOf('.');
            return (dot >= 0 ? base.substring(0, dot) : base).toLowerCase(Locale.ROOT);
        }
        if (node instanceof InMemoryTableScanExec) {
            return firstScanTable(((InMemoryTableScanExec) node).relation().cachedPlan());
        }
        return null;
    }

    private static String firstScanTable(SparkPlan node) {
        node = unwrap(node);
        String table = scanTable(node);
        Seq<SparkPlan> kids = node.children();
        for (int i = 0; table == null && i < kids.size(); i++) {
            table = firstScanTable(kids.apply(i));
        }
        return table;
    }

    /** {@code text} as a JSON string literal, or {@code null}. */
    private static StringBuilder quote(String text, StringBuilder out) {
        if (text == null) {
            return out.append("null");
        }
        out.append('"');
        for (int i = 0; i < text.length(); i++) {
            char c = text.charAt(i);
            if (c == '"' || c == '\\') {
                out.append('\\').append(c);
            } else if (c < 0x20) {
                out.append(String.format("\\u%04x", (int) c));
            } else {
                out.append(c);
            }
        }
        return out.append('"');
    }
}
