"""Physical-plan scale invariants across the whole query surface.

These are the 100 TB guardrails, asserted at plan level so a regression
shows up at sf0.001 without needing big data: no accidental cartesian
products, broadcasts where a small side is declared, filters and column
pruning reaching the parquet scan, and whole-stage codegen on the hot
relational queries.
"""

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

# the only queries allowed a nested-loop/cartesian stage, each declared:
# - q22_idle_customers: the scalar-subquery average joins as a
#   broadcast 1-row cross join — linear in customer
# - bm25_search: the 1-row (N, avgdl) corpus statistics broadcast as a
#   scalar cross join — linear in matching tokens
# - temperature_mixture_sample: the 1-row weight-total broadcast as a
#   scalar cross join against the per-stratum weights (k rows) — the
#   corpus itself joins through a broadcast hash join on the stratum
# - token_frequency_quality: the 1-row corpus-token-total broadcast as
#   a scalar cross join — per-doc rows join counts via a hash join
# - source_divergence: the 1-row corpus-token-total broadcast as a
#   scalar cross join — per-(source, token) rows join counts via hash
#   joins keyed by token / source
# - iceberg_snapshot_drift: the 1-row (n_old, n_new) totals broadcast
#   as a scalar cross join against the value histogram
# - q11_important_parts: the 1-row nation-wide total broadcast as a
#   scalar cross join against the per-part values (TPC-H Q11's HAVING
#   over a scalar subquery) — linear in parts
# (kmeans/semantic_dedup left this set in round 9 — the r8 map-side
# argmax removed their centroid cross joins; the ENTIRE ann_topk family
# left in round 10 — queries/probes/ADC tables ride in the kernel task
# closure or are computed driver-side, so no cross join remains and the
# guardrail now covers all of them)
CARTESIAN_ALLOWED = {"q11_important_parts", "q22_idle_customers",
                     "bm25_search",
                     "temperature_mixture_sample",
                     "token_frequency_quality", "source_divergence",
                     "iceberg_snapshot_drift"}


def _plan(spark, name):
    df = entry.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    cache = {}

    def get(name):
        if name not in cache:
            cache[name] = _plan(spark, name)
        return cache[name]

    return get


def test_no_undeclared_cartesian_products(spark, plans):
    offenders = []
    for name in entry.queries():
        if name in CARTESIAN_ALLOWED:
            continue
        p = plans(name)
        if "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p:
            offenders.append(name)
    assert offenders == [], f"undeclared cartesian in: {offenders}"


def test_ann_family_no_interpreted_hof_cosine(spark, plans):
    """r10 moved every ANN cosine off the interpreted higher-order
    `aggregate()` expressions onto the shared numpy kernel
    (similarity._np_cosine_e6, canary-covered): queries/probes ride in
    the map-side kernel closure, pair filters run as grouped matmuls,
    PQ ADC tables are computed driver-side over exact ints.  Lock it:
    no lowercase `aggregate(` HOF may reappear in any ANN plan (the
    capitalized HashAggregate operator is unaffected), and the corpus
    must cross through a Python kernel node, not a join.

    semantic_dedup_embeddings is deliberately NOT in this list: its
    few-large-clusters regime measured FASTER through the compiled
    join predicate than through a grouped kernel (one unsplittable
    Python task per cluster, O(n^2) matrices — see the operator
    docstring; 10x A/B in OPTIMIZATION_r10.md), so it keeps the
    cluster equi-join."""
    for name in ("ann_topk_bruteforce", "ann_topk_bucketed",
                 "ann_topk_ivf", "ann_topk_pq", "ann_topk_pq_rerank"):
        p = plans(name)
        assert "aggregate(" not in p, name
        assert "MapInPandas" in p or "FlatMapGroupsInPandas" in p, name


def test_ivf_corpus_never_joins(spark, plans):
    """r10 IVF: probe selection is driver-side over the collected
    |labels|-row coarse quantizer; the corpus feeds the map-side top-k
    kernel directly — no corpus-side join of any kind remains, and the
    only shuffle is the candidate rank window."""
    p = plans("ann_topk_ivf")
    assert "MapInPandas" in p
    for bad in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in p, bad


def test_dimension_joins_broadcast(spark, plans):
    for name in ("q3_shipping_priority", "q5_regional_revenue",
                 "q10_returned_items", "q14_promo_revenue"):
        assert "BroadcastHashJoin" in plans(name), name


def test_filter_pushdown_reaches_scan(spark, plans):
    # q6 is a pure scan+filter+agg: the date/discount/quantity predicates
    # must appear as parquet PushedFilters, not post-scan Filter only
    p = plans("q6_forecast_revenue")
    assert "PushedFilters: [" in p
    assert "IsNotNull" in p.split("PushedFilters:")[1][:400]


def test_column_pruning_reaches_scan(spark, plans):
    # q1 touches 7 lineitem columns; the scan must not read all 11
    p = plans("q1_pricing_summary")
    scan = [ln for ln in p.splitlines() if "FileScan parquet" in ln][0]
    assert "l_orderkey" not in scan and "l_partkey" not in scan
    assert "l_quantity" in scan and "l_returnflag" in scan


def test_hot_queries_whole_stage_codegen(spark):
    # AQE only shows codegen spans in the FINAL plan, so execute first
    for name in ("q1_pricing_summary", "q6_forecast_revenue",
                 "events_hourly"):
        df = entry.queries()[name](spark, SF)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        # "*(n)" prefixes mark whole-stage-codegen spans in toString form
        assert "isFinalPlan=true" in p and "*(" in p, name


def test_exact_dedup_single_shuffle(spark, plans):
    # md5-groupBy dedup is one hash aggregation: exactly one exchange
    p = plans("dedup_exact")
    assert p.count("Exchange hashpartitioning") == 1


def test_shared_gram_frame_bounds_exchanges(spark, plans):
    """r9 shares ONE materialized gram/groups frame across the exact and
    LSH stages of the Jaccard harnesses; un-shared, every consumer
    re-evaluated the tokenize+explode+distinct front half and the plan
    carried ~220 (minhash_lsh_recall) / ~90 (ngram_jaccard_dups)
    Exchange mentions.  Lock the collapsed shape: a refactor that drops
    the sharing re-inflates the count far past this bound."""
    assert plans("minhash_lsh_recall").count("Exchange") <= 20
    assert plans("ngram_jaccard_dups").count("Exchange") <= 20


def test_q2_q20_single_fact_scan(spark, plans):
    """r9 decorrelated the per-partkey min/sum via a window over the
    already-aggregated frame; the old second groupBy + re-join
    re-evaluated the whole fact subtree, scanning lineitem TWICE."""
    for name in ("q2_min_cost_supplier", "q20_dominant_suppliers"):
        p = plans(name)
        assert p.count("lineitem.parquet") == 1, name
        assert "Window" in p, name


def test_kmeans_assignment_stage_has_no_exchange(spark):
    """r8 moved kmeans/PQ assignment from crossJoin(k)+row_number-window
    to a map-side Arrow mapInPandas argmax — ZERO exchanges per Lloyd
    iteration (the window shape shuffled k x |corpus| rows per
    iteration, the r7 verdict's #1 scale-killer).  Lock the shape at
    plan level so a refactor can't silently regress it."""
    from conftest import read_table
    from iceberg_go_spark.operators.similarity import kmeans_assignments
    emb = read_table(spark, "embeddings", SF)
    df = kmeans_assignments(emb, k=4, iters=2)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in p
    for bad in ("Exchange", "Window", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in p, f"{bad} crept into the assignment stage"


def test_pq_encode_is_map_side(spark, plans):
    """PQ code assignment shares the map-side argmax kernel; the full
    top-k plan may shuffle for the scoring equi-join and rank the FINAL
    per-query top-k with one window, but the corpus encode must stay a
    MapInPandas — no assignment window (the regressed shape would rank
    corpus x codebook rows by cosine per subspace)."""
    p = plans("ann_topk_pq")
    assert "MapInPandas" in p
    windows = [ln for ln in p.splitlines()
               if "Window [row_number()" in ln]
    assert all("adc_score" in ln for ln in windows), windows


def test_bpe_local_train_job_count_independent_of_merges(spark):
    """BPE training on a collectable vocabulary is ONE corpus
    aggregation + a driver-local merge loop: the Spark JOB COUNT must
    not grow with n_merges (the r7 scale-killer was one job per merge —
    32k merges = 32k sequential jobs)."""
    from iceberg_go_spark.operators.text import bpe_train_merges
    df = spark.createDataFrame(
        [(i, "low lower lowest new newer newest wide widest")
         for i in range(40)],
        "doc_id long, text string")
    sc = spark.sparkContext

    def jobs_for(n_merges, tag):
        sc.setJobGroup(tag, "bpe job-count probe")
        try:
            out = bpe_train_merges(df, n_merges=n_merges).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(out) == n_merges
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    few = jobs_for(3, "bpe-few")
    many = jobs_for(12, "bpe-many")  # the toy corpus merges dry at 16
    assert many == few, (few, many)
    # the vocabulary aggregation's shuffle and result jobs; the merge
    # table is a LocalTableScan, so collecting it runs none
    assert few <= 2, few


def test_funnel_stage_frames_materialized(spark, plans):
    """r9 made each funnel stage a localCheckpoint-ed |users|-row frame
    so stage k never replays the events scan for stages 1..k-1
    (O(steps^2) -> O(steps) event-table scans).  Lock the shape: the
    FINAL plan reads only materialized stage frames — zero raw events
    scans (each stage scanned events exactly once, at construction)."""
    p = plans("event_funnel")
    assert "events.parquet" not in p
    assert p.count("Scan ExistingRDD") >= 2


def test_bpe_shared_tokenize_single_corpus_scan(spark, plans):
    """r9 shares ONE tokenize pass between the BPE trainer vocabulary
    and the encoder doc-word counts (the corpus used to be exploded
    twice).  Lock it: at most one documents scan in the final plan,
    everything else reads the materialized shared frames."""
    p = plans("bpe_encoded_lengths")
    assert p.count("documents.parquet") <= 1


def test_oracle_outputs_no_hugeint():
    """Every oracle's OUTPUT columns must be plain portable types.
    DuckDB SUM(BIGINT) silently yields HUGEINT, and a dtype audit of the
    oracles showed the only HUGEINT output columns were exactly the
    kmeans sum_ids rows that mismatched for five rounds — the
    driver's hasher serializes HUGEINT differently than BIGINT, while
    every ::BIGINT-cast aggregate is green.  Lock the invariant so no
    future oracle re-introduces an un-cast aggregate output."""
    import os
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    # JSON is allowed: multimodal_feature_vectors emits a JSON column and
    # has been driver-green since r8 (string-rendered identically)
    banned = ("HUGEINT", "UHUGEINT", "DECIMAL", "UBIGINT")
    offenders = []
    for name, sql in entry.oracle_sql().items():
        rows = con.execute(f"DESCRIBE ({sql})").fetchall()
        for col, typ, *_ in rows:
            if any(typ.startswith(b) for b in banned):
                offenders.append((name, col, typ))
    assert offenders == [], offenders


def test_query_registry_parity():
    """queries() and oracle_sql() name the same 125 query paths, and every
    query bench.py measures is one of them."""
    import bench
    q, o = entry.queries(), entry.oracle_sql()
    assert set(q) == set(o)
    assert len(q) == 125
    assert [n for n in bench.HEADLINE + bench.EXTRA if n not in q] == []


# every environment variable the package reads: deployment settings,
# each declared here on purpose.  A new env knob is a new policy switch;
# add it to this list only with its reason.
ENV_KNOBS = {
    "AWS_ACCESS_KEY_ID", "AWS_REGION", "AWS_SECRET_ACCESS_KEY",
    "AWS_SESSION_TOKEN",                  # SigV4 REST signing (config.py)
    "ICEBERG_GO_SPARK_HOME",              # config file location
    "ICEBERG_REST_PLAN_TIMEOUT_S",        # REST server-side planning wait
    "ICEBERG_SPARK_BROADCAST_ROW_LIMIT",  # delete anti-join broadcast gate
    "PYTHONPATH",                         # shipped to Python workers
    "SPARK_DRIVER_MEM", "SPARK_GRAFT_CPUS",  # session sizing
    "SPARK_GRAFT_LISTING_THRESHOLD",      # parallel file-listing gate
    "SPARK_HOME",                         # parquet jars for the JVM KMS
}


def test_env_knob_inventory():
    """AST inventory of the package's environment reads
    (``os.environ.get``/``[...]``/``in``, ``os.getenv``) against
    ENV_KNOBS: an undeclared knob fails, and so does a read whose key
    is not a literal (it could not be inventoried)."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "iceberg_go_spark"

    def is_environ(node):
        return isinstance(node, ast.Attribute) and node.attr == "environ"

    found, opaque = set(), []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            key = None
            if isinstance(node, ast.Call) and isinstance(
                    node.func, ast.Attribute) and node.args and (
                    (node.func.attr == "get" and is_environ(node.func.value))
                    or node.func.attr == "getenv"):
                key = node.args[0]
            elif isinstance(node, ast.Subscript) and is_environ(
                    node.value) and isinstance(node.ctx, ast.Load):
                key = node.slice
            elif isinstance(node, ast.Compare) and any(
                    is_environ(c) for c in node.comparators):
                key = node.left
            if key is None:
                continue
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                found.add(key.value)
            else:
                opaque.append(f"{path.name}:{node.lineno}")
    assert opaque == []
    assert found == ENV_KNOBS


def test_package_ships_no_test_doubles():
    """Test doubles (fake catalog clients, local wire servers) live under
    tests/support; the package holds only engine code."""
    import importlib
    import inspect
    import os
    import pkgutil
    import subprocess
    import sys
    import iceberg_go_spark as pkg

    offenders = []
    for mod in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        m = importlib.import_module(mod.name)
        offenders += [f"{m.__name__}.{name}" for name, obj in vars(m).items()
                      if inspect.isclass(obj) and obj.__module__ == m.__name__
                      and (name.startswith("Fake")
                           or name.endswith("WireServer"))]
    assert offenders == []
    # a fresh interpreter: this one may already hold tests.support
    probe = ("import sys, iceberg_go_spark.catalog\n"
             "print(sorted(m for m in sys.modules\n"
             "             if m.split('.')[0] in ('iceberg_go_spark', 'tests')\n"
             "             and ('fake' in m.split('.')[-1]\n"
             "                  or m.endswith('_local'))))")
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=120, check=True)
    assert out.stdout.strip() == "[]", out.stdout


def test_zorder_write_prunes_on_both_dimensions(spark):
    """Z-order layout (write.distribution-mode=zorder): files carry
    tight bounds on EVERY z column, so a filter on either dimension
    alone prunes files — a plain sort only helps its leading column."""
    from conftest import read_table
    from iceberg_go_spark import expressions as E
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.schema import Schema
    import tempfile
    from pyspark.sql import functions as F

    cat = FilesystemCatalog(tempfile.mkdtemp())
    li = read_table(spark, "lineitem", "/root/testdata/sf0.01")
    t = cat.create_table(
        "db.li_z", Schema.from_spark(li.schema),
        properties={
            "write.distribution-mode": "zorder",
            "write.zorder.columns": "l_orderkey,l_shipdate",
            # small files so the layout yields many prunable units
            "write.target-file-size-bytes": str(64 * 1024),
        })
    t.append(li.repartition(8))
    t = cat.load_table("db.li_z")
    n_files = len(t.scan().plan_files())
    assert n_files >= 4, "need multiple files to demonstrate pruning"

    lo_key = li.agg(F.expr("percentile(l_orderkey, 0.1)")).first()[0]
    sc1 = t.scan(E.lt("l_orderkey", int(lo_key)))
    sc1.to_df(spark).count()
    assert sc1.report.skipped_data_files > 0, "orderkey filter must prune"

    cutoff = li.agg(F.expr(
        "percentile(cast(cast(l_shipdate as timestamp) as double), 0.1)")) \
        .first()[0]
    import datetime
    cutoff = datetime.datetime.utcfromtimestamp(cutoff)
    sc2 = t.scan(E.lt("l_shipdate", cutoff))
    sc2.to_df(spark).count()
    assert sc2.report.skipped_data_files > 0, "shipdate filter must prune"

    # correctness: z-ordered scan returns exactly the plain-filter rows
    want = li.filter(F.col("l_orderkey") < int(lo_key)).count()
    assert sc1.to_df(spark).count() == want


# plan nodes that run a Python worker over the rows flowing through them
PYTHON_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "MapInArrow", "ExistingRDD")


def test_delete_application_runs_without_python_workers(spark, tmp_path,
                                                        monkeypatch):
    """Merge-on-read delete application and DML position matching lower
    onto JVM-only plans: the `_metadata.file_path` decode is a native
    expression and the driver-built side tables (partition mapping,
    lineage map, deletion-vector positions) are LocalTableScans, not
    PythonRDDs.  Files registered with add_files (no field ids) resolve
    through the name mapping on the same JVM-only plans, and DML on an
    engine-written table runs no field-id footer probe."""
    from pyspark.sql.readwriter import DataFrameWriter
    from conftest import id_less_table, read_table
    from iceberg_go_spark import expressions as E
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.meta.partitioning import spec_from_names
    from iceberg_go_spark.schema import Schema
    from iceberg_go_spark.table import scan as SC

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    written = []
    real_parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written.append(plan(self._df))
        return real_parquet(self, path, *args, **kwargs)

    orders = read_table(spark, "orders", SF)
    sch = Schema.from_spark(orders.schema)
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    t = cat.create_table("db.mor", sch,
                         spec_from_names(sch, ("o_orderdate", "year")))
    t.append(orders)
    probed = set(SC._FOOTER_PROBE_CACHE)
    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    t.delete_where(spark, E.eq("o_orderstatus", "F"), mode="merge-on-read")
    monkeypatch.undo()
    assert len(written) == 1  # the partition-fanout pos-delete write
    plans = {"MoR delete match + partition mapping": written[0],
             "MoR scan": plan(cat.load_table("db.mor").to_df(spark))}
    t = cat.load_table("db.mor")
    t.update_where(spark, E.eq("o_orderstatus", "O"),
                   {"o_totalprice": "o_totalprice + 1"})
    t.merge_into(spark, orders.limit(5), ["o_orderkey"])
    assert set(SC._FOOTER_PROBE_CACHE) == probed

    idless = id_less_table(spark, cat, "db.idless", orders,
                           str(tmp_path / "idless.parquet"))
    written.clear()
    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    idless.delete_where(spark, E.eq("o_orderstatus", "F"),
                        mode="merge-on-read")
    monkeypatch.undo()
    assert len(written) == 1
    plans["add_files MoR delete match"] = written[0]
    idless = cat.load_table("db.idless")
    assert idless.to_df(spark).filter("o_orderstatus = 'F'").count() == 0
    plans["add_files MoR scan"] = plan(idless.to_df(spark))

    v3 = cat.create_table("db.v3", sch, properties={"format-version": "3"})
    v3.append(orders)
    v3.delete_where(spark, E.eq("o_orderstatus", "F"), mode="merge-on-read")
    plans["v3 row-lineage scan"] = plan(
        cat.load_table("db.v3").scan(row_lineage=True).to_df(spark))
    # v3: the deletes are DVs, expanded on the driver under the row gate
    assert "LocalTableScan [file_path" in plans["v3 row-lineage scan"]

    offenders = {name: [n for n in PYTHON_EVAL_NODES if n in p]
                 for name, p in plans.items()}
    assert offenders == {name: [] for name in plans}, offenders


def _broadcast_subtrees(plan: str):
    """The text of each BroadcastExchange node's subtree in a plan's
    tree string: the lines below it indented deeper than it."""
    import re
    lines = plan.splitlines()
    depth = [re.match(r"[\s:+\-|]*", ln).end() for ln in lines]
    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        j = i + 1
        while j < len(lines) and depth[j] > depth[i]:
            j += 1
        out.append("\n".join(lines[i:j]))
    return out


def test_mor_scan_build_launches_no_spark_job(spark, tmp_path):
    """Building a merge-on-read scan DataFrame runs no Spark job: delete
    files are read with the spec's or the table's schema (an inferred
    read runs a schema job per call), and a broadcast delete side is
    not deduplicated first (a HashAggregate there costs a shuffle stage
    and an extra job per delete side at execution)."""
    import pyspark.sql.functions as F
    from conftest import read_table
    from iceberg_go_spark import expressions as E
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.meta.partitioning import spec_from_names
    from iceberg_go_spark.schema import Schema

    orders = read_table(spark, "orders", SF)
    sch = Schema.from_spark(orders.schema)
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    t = cat.create_table("db.jobs", sch,
                         spec_from_names(sch, ("o_orderdate", "year")))
    t.append(orders)
    # the upsert's rows turn "F", so the delete hits both scan groups:
    # the files under the equality delete and the upsert's own files
    t.upsert(spark, orders.filter(F.col("o_orderstatus") == "O").limit(50)
             .withColumn("o_orderstatus", F.lit("F")), ["o_orderkey"])
    t = cat.load_table("db.jobs")
    t.delete_where(spark, E.eq("o_orderstatus", "F"), mode="merge-on-read")
    t = cat.load_table("db.jobs")
    tasks = t.scan().plan_files()
    assert any(task.pos_deletes for task in tasks)
    assert any(task.eq_deletes for task in tasks)

    sc = spark.sparkContext
    sc.setJobGroup("mor-scan-build", "scan build job-count probe")
    try:
        df = t.scan().to_df(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("mor-scan-build")) == 0

    plan = df._jdf.queryExecution().executedPlan().toString()
    sides = _broadcast_subtrees(plan)
    assert len(sides) >= 2, plan  # a pos-delete and an eq-delete side
    assert [s for s in sides if "HashAggregate" in s] == [], plan
    assert df.count() == \
        orders.filter(F.col("o_orderstatus") != "F").count() - 50


def test_connected_components_job_budget(spark, monkeypatch):
    """Under the broadcast row gate, connected components finish on the
    driver: the edge checkpoint and one Arrow fetch, not a checkpointed
    Spark round per iteration (the 64-vertex chain took 64 jobs as
    rounds)."""
    from iceberg_go_spark.operators.dedup import connected_components
    monkeypatch.delenv("ICEBERG_SPARK_BROADCAST_ROW_LIMIT", raising=False)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)] + [(100, 101)],
        "id_a long, id_b long")
    sc = spark.sparkContext
    sc.setJobGroup("cc-budget", "connected components job-count probe")
    try:
        out = connected_components(chain, max_iterations=10).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(out) == 66
    assert len(sc.statusTracker().getJobIdsForGroup("cc-budget")) <= 3


def test_simhash_build_py4j_traffic(spark, monkeypatch):
    """Building simhash_near_dup_pairs takes under 3000 py4j commands
    (~1.6k measured): the 64 vote sums and 4 part sums are SQL strings.
    As chained Column calls they took ~13k, each wrapped call paying
    call-site capture round-trips before any job ran."""
    from iceberg_go_spark.operators.dedup import simhash_near_dup_pairs
    df = spark.createDataFrame([(1, "a b c"), (2, "a b d")],
                               "doc_id long, text string")
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, [0]

    def counting(*args, **kwargs):
        sent[0] += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    simhash_near_dup_pairs(df, max_hamming=3, max_bucket_size=None)
    monkeypatch.undo()
    assert sent[0] <= 3000, sent[0]


# the executor-I/O frames: manifests read by a parallelized RDD of paths
# on purpose, so the driver never holds file rows
PYTHON_RDD_ALLOWED = {"all_entries", "all_files"}


def _python_rdd_offenders(frames):
    from tools.explain_all import python_rdd_leaves
    return {name: leaves for name, df in frames.items()
            if (leaves := python_rdd_leaves(df))}


def test_operator_frames_have_no_python_rdd(spark, tmp_path, monkeypatch):
    """Driver-built rows enter Spark as Arrow LocalTableScans: the six
    perfbench dedup ops (called as its workload calls them), both BPE
    training paths, BPE encode, DSIR resampling and PQ top-k plan with
    no leaf over a PythonRDD (a list handed to createDataFrame).  Plan
    strings cannot lock this: a localCheckpoint leaf prints as the same
    ``Scan ExistingRDD``."""
    from pyspark.sql import Window, functions as F
    from conftest import read_table
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.operators import curation as CU
    from iceberg_go_spark.operators import dedup as DD
    from iceberg_go_spark.operators import similarity as SIM
    from iceberg_go_spark.operators import text as TOP
    from iceberg_go_spark.schema import Schema

    monkeypatch.delenv("ICEBERG_SPARK_BROADCAST_ROW_LIMIT", raising=False)
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    for name in ("documents", "embeddings"):
        raw = read_table(spark, name, SF)
        cat.create_table(f"db.{name}", Schema.from_spark(raw.schema)) \
            .append(raw)
    docs = cat.load_table("db.documents").to_df(spark)
    emb = cat.load_table("db.embeddings").to_df(spark)
    qs = (emb.orderBy("vec_id").limit(5)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("query_vec")))
    groups = DD.minhash_lsh_groups(docs).select("band", "band_key",
                                                "doc_id")
    w = Window.partitionBy("band", "band_key")
    edges = (groups.withColumn("m", F.min("doc_id").over(w))
             .filter(F.col("doc_id") != F.col("m"))
             .select(F.col("m").alias("id_a"),
                     F.col("doc_id").alias("id_b")).distinct())
    frames = {
        "c4_rules": CU.c4_rules(docs, min_words=5,
                                banned_words=["spam", "slow"]),
        "minhash_lsh_groups": groups,
        "connected_components": DD.connected_components(edges),
        "simhash_near_dup_pairs": DD.simhash_near_dup_pairs(
            docs, max_hamming=3, max_bucket_size=None),
        "ivf_topk": SIM.ivf_topk(emb, qs, k=10, nprobe=2),
        "bpe_train_merges": TOP.bpe_train_merges(docs, n_merges=3),
        "bpe_train_merges distributed": TOP.bpe_train_merges(
            docs, n_merges=3, vocab_collect_max=0),
        "bpe_token_counts": TOP.bpe_token_counts(docs, n_merges=3),
        "importance_resample": CU.importance_resample(
            docs, (F.col("lang") == "en") & (F.col("source") == "src0"),
            n_keep=200),
        "pq_topk": SIM.pq_topk(emb, qs, k=10, m=2, n_centroids=4,
                               iters=1),
    }
    assert _python_rdd_offenders(frames) == {}


def test_metadata_frames_have_no_python_rdd(spark, tmp_path):
    """Every InspectTable frame, on a v2 table with parquet position
    deletes and on a v3 table with deletion vectors, and an empty
    table's scan plan with no PythonRDD leaf, except the two tables that
    read manifests on executors (flagged, which shows the check sees a
    PythonRDD)."""
    from iceberg_go_spark import expressions as E
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.schema import Schema
    from iceberg_go_spark.table.inspect import InspectTable

    cat = FilesystemCatalog(str(tmp_path / "wh"))
    df = spark.range(0, 100).selectExpr("id", "id % 5 AS k")
    sch = Schema.from_spark(df.schema)
    frames = {"empty to_df": cat.create_table("db.empty", sch).to_df(spark)}
    methods = sorted(m for m in vars(InspectTable)
                     if not m.startswith("_") and not m.endswith("_arrow"))
    for version in ("2", "3"):
        t = cat.create_table(f"db.v{version}", sch,
                             properties={"format-version": version})
        t = t.append(df).append(df.selectExpr("id + 100 AS id", "k"))
        t = t.delete_where(spark, E.lt("id", 10), mode="merge-on-read")
        ins = t.inspect(spark)
        frames.update({f"{m} v{version}": getattr(ins, m)()
                       for m in methods})
    offenders = _python_rdd_offenders(frames)
    assert {name.split()[0] for name in offenders} == PYTHON_RDD_ALLOWED, \
        offenders
