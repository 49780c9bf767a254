"""Engine-level unit/property tests: determinism under repartitioning,
cross-engine rounding, vector math, source normalization."""

from __future__ import annotations

import ast
from pathlib import Path

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.rounding import fround
from e_commerce_streaming_datapipeline_spark.functions.vector import cosine_similarity_expr, to_double_array
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table


def test_fround_matches_duckdb_on_halves(spark):
    """The exact failure case that motivated fround: avg landing on an exact
    half-cent must round identically to DuckDB."""
    values = [52.755, 2.675, 1.005, 0.125, 93.015, -52.755]
    df = spark.createDataFrame([(v,) for v in values], "x double").select(
        fround(F.col("x"), 2).alias("r")
    )
    got = [r["r"] for r in df.collect()]
    expected = [
        duckdb.sql(f"SELECT round({v!r}::DOUBLE, 2)").fetchone()[0] for v in values
    ]
    assert got == expected


def _literal_text(node: ast.AST) -> str:
    """A string literal's text, an f-string's with ``{}`` for each
    placeholder; "" for any other node."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(v.value if isinstance(v, ast.Constant) else "{}" for v in node.values)
    return ""


def _inline_fixed_point_sites(package: Path) -> list[str]:
    """``round(<expr> * <scale>[, 0]).cast("long")`` outside the kernel,
    where the scale is a power-of-ten literal or a module constant
    (``_SCALE``), and its SQL spelling ``CAST(round(x * s) AS BIGINT)``
    inside an ``F.expr`` string."""
    import re

    powers_of_ten = {10**k for k in range(1, 19)}
    sql_copy = re.compile(r"CAST\(\s*round\([^()]*\*[^()]*\)\s*AS\s+BIGINT\)", re.I)

    def is_scale(node: ast.AST) -> bool:
        if isinstance(node, ast.Name):
            return node.id.lstrip("_").isupper()
        return (
            isinstance(node, ast.Constant)
            and type(node.value) is int
            and node.value in powers_of_ten
        )

    sites = []
    for path in sorted(package.rglob("*.py")):
        if path.relative_to(package).as_posix() == "functions/rounding.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
                continue
            if node.func.attr == "expr" and any(
                sql_copy.search(_literal_text(arg)) for arg in node.args
            ):
                sites.append(f"{path.relative_to(package)}:{node.lineno}")
                continue
            if not (
                node.func.attr == "cast"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value in ("long", "bigint")
            ):
                continue
            rounded = node.func.value
            if not (
                isinstance(rounded, ast.Call)
                and getattr(rounded.func, "attr", getattr(rounded.func, "id", None))
                == "round"
                and rounded.args
            ):
                continue
            product = rounded.args[0]
            if isinstance(product, ast.BinOp) and isinstance(product.op, ast.Mult) and (
                is_scale(product.left) or is_scale(product.right)
            ):
                sites.append(f"{path.relative_to(package)}:{node.lineno}")
    return sites


def test_fixed_point_lives_in_one_kernel(tmp_path):
    """The scaled-long fixed-point format (scale, integer literal, round at
    0 dp, cast to long) is spelled once, in ``functions/rounding.py::cents``;
    every operator calls it.  A hand-inlined copy can drift from its
    streaming or batch twin and show up only as an oracle hash mismatch.
    AST scan, so multi-line expressions are caught too."""
    import e_commerce_streaming_datapipeline_spark as pkg

    package = Path(pkg.__file__).resolve().parent
    assert _inline_fixed_point_sites(package) == []
    # the scan sees a planted multi-line copy, a named-scale copy and an
    # F.expr copy
    (tmp_path / "m.py").write_text(
        'x = F.round(\n    F.col("v")\n    * 1_000_000,\n    0,\n).cast("long")\n'
        'y = F.round(e * _PC_Q, 0).cast("long")\n'
        'z = F.expr(f"transform(e, x -> CAST(round(x * {_S}) AS BIGINT))")\n'
    )
    assert _inline_fixed_point_sites(tmp_path) == ["m.py:1", "m.py:6", "m.py:7"]


# relations the DuckDB oracles share, each spelled once as a SQL fragment
# beside the builder kernel it mirrors: pattern -> the owner module
_ORACLE_FRAGMENTS = {
    r"len\(embedding\) = ": "sources/batch.py",  # the vector input gate
    r"sqrt\(list_inner_product\(": "functions/vector.py",  # norm and 6dp cosine
    r"PARTITION BY query_id ORDER BY": "operators/similarity.py",  # per-query rank
    r"string_split\(text, ' '\)\[i": "operators/dedup.py",  # word shingles
    r"floor\(epoch\(ts\) / 86400\)": "operators/statistics.py",  # epoch-day cents
    r"'image', 'audio'": "operators/multimodal.py",  # the modality list
}


def _oracle_fragment_copies(package: Path) -> list[str]:
    """Every string-literal occurrence of an ``_ORACLE_FRAGMENTS`` pattern
    except one in its owner module."""
    import re

    hits: dict[str, list[tuple[str, int]]] = {p: [] for p in _ORACLE_FRAGMENTS}
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        tree = ast.parse(path.read_text())
        parts = {id(v) for n in ast.walk(tree) if isinstance(n, ast.JoinedStr) for v in n.values}
        for node in ast.walk(tree):
            text = _literal_text(node)
            if not text or id(node) in parts:
                continue
            for pattern in hits:
                hits[pattern] += [(rel, node.lineno)] * len(re.findall(pattern, text))
    sites = []
    for pattern, owner in _ORACLE_FRAGMENTS.items():
        found = hits[pattern]
        own = [h for h in found if h[0] == owner]
        if own:
            found.remove(own[0])
        sites += [f"{rel}:{line}" for rel, line in found]
    return sorted(sites)


def test_oracle_relations_are_spelled_once(tmp_path):
    """Each relation the oracles share (the vector gate, the cosine, the
    per-query ranking, the shingle list, the epoch-day purchase series, the
    modality list) is one SQL fragment, rendered from the builder's own
    constants; an oracle that re-types it can drift from the kernel its
    builder calls."""
    import e_commerce_streaming_datapipeline_spark as pkg

    package = Path(pkg.__file__).resolve().parent
    assert _oracle_fragment_copies(package) == []
    # the scan sees a planted copy, in another module and in the owner
    (tmp_path / "sources").mkdir()
    (tmp_path / "operators").mkdir()
    (tmp_path / "sources" / "batch.py").write_text(
        'P = f"embedding IS NOT NULL AND len(embedding) = {D}"\n'
        'Q = "WHERE len(embedding) = 64"\n'
    )
    (tmp_path / "operators" / "m.py").write_text(
        'O = f"""SELECT vec_id\nFROM embeddings\n'
        'WHERE embedding IS NOT NULL AND len(embedding) = 64 AND {x}"""\n'
    )
    assert _oracle_fragment_copies(tmp_path) == ["operators/m.py:1", "sources/batch.py:2"]


def _lineage_cut_sites(package: Path) -> list[str]:
    """``.localCheckpoint(``/``.checkpoint(`` calls outside
    ``functions/checkpoints.py``."""
    sites = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        if rel == "functions/checkpoints.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and getattr(node.func, "attr", None) in (
                "localCheckpoint",
                "checkpoint",
            ):
                sites.append(f"{rel}:{node.lineno}")
    return sites


def test_lineage_cuts_go_through_round_checkpoint(tmp_path):
    """Every lineage cut is ``functions/checkpoints.py::round_checkpoint``,
    so a deployment that sets ``SPARK_GRAFT_CHECKPOINT_DIR`` gets durable
    checkpoints everywhere; a bare ``localCheckpoint`` keeps executor-only
    blocks that an executor loss fails the job on."""
    import e_commerce_streaming_datapipeline_spark as pkg

    package = Path(pkg.__file__).resolve().parent
    assert _lineage_cut_sites(package) == []
    # the scan sees planted cuts of both kinds
    (tmp_path / "m.py").write_text("a = df.localCheckpoint()\nb = df.checkpoint(eager=True)\n")
    assert _lineage_cut_sites(tmp_path) == ["m.py:1", "m.py:2"]


def _utime_sites(root: Path, dirs: tuple[str, ...]) -> list[str]:
    """``utime`` calls in ``dirs`` under ``root``, outside the replay-feed
    helper ``sources/streaming.py::append_feed``."""
    helper = ("e_commerce_streaming_datapipeline_spark/sources/streaming.py", "append_feed")
    sites = []
    for path in sorted(p for d in dirs for p in (root / d).rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            if (rel, getattr(stmt, "name", None)) == helper:
                continue
            for node in ast.walk(stmt):
                if isinstance(node, ast.Call) and "utime" in (
                    getattr(node.func, "attr", None),
                    getattr(node.func, "id", None),
                ):
                    sites.append(f"{rel}:{node.lineno}")
    return sites


def test_feed_mtimes_are_stamped_in_one_helper(tmp_path):
    """The file source turns file mtime order into micro-batch order, so a
    replay feed's arrival order is only as good as its mtime stamps.  They
    are stamped in one place, ``sources/streaming.py::append_feed``; a
    hand-written feed that forgets the stamp replays out of order only
    now and then."""
    import e_commerce_streaming_datapipeline_spark as pkg

    repo = Path(pkg.__file__).resolve().parent.parent
    assert _utime_sites(repo, ("e_commerce_streaming_datapipeline_spark", "tests")) == []
    # the scan sees a planted stamp
    (tmp_path / "t").mkdir()
    (tmp_path / "t" / "m.py").write_text("import os\ndef f(p):\n    os.utime(p, (1, 1))\n")
    assert _utime_sites(tmp_path, ("t",)) == ["t/m.py:3"]


# the functions in operators/similarity.py that may score pairs with
# cosine_similarity_expr: the shared verification kernel, plus the scorers
# that are not a candidate rerank
_COSINE_SCORERS = {
    "rerank_topk",  # the one exact-verification stage of every ANN query
    "q_embedding_topk",  # brute force: every query x corpus pair
    "q_embedding_topk_ivf",  # brute force inside the label cluster
    "q_hard_negative_mining",  # brute force across labels
    "q_knn_label_accuracy",  # brute force carrying both labels to the vote
    "q_matryoshka_recall_audit",  # full and truncated cosine of one pair
    "q_mmr_diversified_topk",  # micros-scaled relevance and pair sims
}


def _cosine_sites(path: Path) -> list[str]:
    """``cosine_similarity_expr`` calls in ``path`` outside the top-level
    functions named in ``_COSINE_SCORERS``."""
    sites = []
    for stmt in ast.parse(path.read_text()).body:
        if getattr(stmt, "name", None) in _COSINE_SCORERS:
            continue
        for node in ast.walk(stmt):
            if isinstance(node, ast.Call) and "cosine_similarity_expr" in (
                getattr(node.func, "attr", None),
                getattr(node.func, "id", None),
            ):
                sites.append(f"{path.name}:{node.lineno}")
    return sites


def test_ann_rerank_lives_in_one_kernel(tmp_path):
    """Every ANN query in ``operators/similarity.py`` verifies its
    candidates through ``rerank_topk``; a query that re-types the
    join-and-score chain can drift from its siblings' rounding or join
    shape.  Only the listed non-rerank scorers call
    ``cosine_similarity_expr`` themselves."""
    import e_commerce_streaming_datapipeline_spark.operators.similarity as sim

    assert _cosine_sites(Path(sim.__file__)) == []
    # the scan sees a planted rerank copy
    (tmp_path / "m.py").write_text(
        "def q_new_ann(c):\n    return c.select(\n        cosine_similarity_expr(a, b))\n"
    )
    assert _cosine_sites(tmp_path / "m.py") == ["m.py:3"]


# module -> the one function in it allowed to write session conf (None: the
# whole module; a module not listed may not write it)
_CONF_WRITERS = {
    "session.py": None,
    "sources/batch.py": "ensure_session_conf",
    "operators/streaming_queries.py": "_stream_run",
}
# the modules that read deployment settings from the environment
_ENV_READERS = {
    "session.py",
    "sources/batch.py",
    "functions/checkpoints.py",
    "__main__.py",
}


def _conf_and_env_sites(package: Path) -> tuple[list[str], set[str]]:
    """``.conf.set``/``.conf.unset`` calls outside their owners and
    ``SPARK_GRAFT_*`` environment reads outside the deployment modules, plus
    every ``SPARK_GRAFT_*`` name read anywhere."""

    def is_conf_write(node: ast.AST) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("set", "unset")
            and getattr(node.func.value, "attr", None) == "conf"
        )

    def env_read(node: ast.AST) -> str | None:
        """The name read by ``environ.get(NAME)``/``getenv(NAME)``/``environ[NAME]``."""
        if isinstance(node, ast.Call) and getattr(node.func, "attr", None) in (
            "get",
            "getenv",
        ):
            key = node.args[0] if node.args else None
        elif isinstance(node, ast.Subscript):
            key = node.slice
        else:
            return None
        if isinstance(key, ast.Constant) and str(key.value).startswith("SPARK_GRAFT_"):
            return key.value
        return None

    sites, names = [], set()
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            owner = getattr(stmt, "name", None)
            for node in ast.walk(stmt):
                if is_conf_write(node) and _CONF_WRITERS.get(rel, "") not in (None, owner):
                    sites.append(f"{rel}:{node.lineno}")
                name = env_read(node)
                if name:
                    names.add(name)
                    if rel not in _ENV_READERS:
                        sites.append(f"{rel}:{node.lineno}")
    return sites, names


def test_session_conf_and_env_settings_live_in_one_place(tmp_path):
    """Session conf is written only by ``session.py``, ``ensure_session_conf``
    and the stream-run pin; no builder changes the shared session while it
    runs.  The environment carries deployment settings only; every SQL conf
    has one value in ``session.SESSION_CONF`` and is overridden through
    ``SPARK_GRAFT_EXTRA_CONF``."""
    import e_commerce_streaming_datapipeline_spark as pkg

    package = Path(pkg.__file__).resolve().parent
    sites, names = _conf_and_env_sites(package)
    assert sites == []
    assert names == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_EXTRA_CONF",
        "SPARK_GRAFT_SF_DIR",
        "SPARK_GRAFT_CHECKPOINT_DIR",
    }
    # the scan sees a planted conf flip and knob read
    (tmp_path / "m.py").write_text(
        "import os\n"
        "def f(spark):\n"
        '    spark.conf.set("k", "v")\n'
        '    return os.environ.get("SPARK_GRAFT_X", "1")\n'
    )
    assert _conf_and_env_sites(tmp_path) == (["m.py:3", "m.py:4"], {"SPARK_GRAFT_X"})


def test_ensure_session_conf_writes_only_what_differs(spark, monkeypatch):
    """A ``get_spark`` session already holds the fixture conf, so
    ``ensure_session_conf`` (run by every ``load_table``) writes nothing to
    it; a session with another time zone is pinned back to UTC."""
    from pyspark.sql.conf import RuntimeConfig

    from e_commerce_streaming_datapipeline_spark.sources.batch import ensure_session_conf

    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/New_York")
    writes = []
    real_set = RuntimeConfig.set

    def counting_set(self, key, value):
        writes.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", counting_set)
    ensure_session_conf(spark)
    assert writes == []
    ensure_session_conf(other)
    assert writes == ["spark.sql.session.timeZone"]
    assert other.conf.get("spark.sql.session.timeZone") == "UTC"


def test_warehouse_overwrite_is_dynamic_without_touching_session_conf(spark, sf_dir):
    """``warehouse_partitioned_roundtrip`` gets dynamic partition overwrite
    from its table option: the session's overwrite mode is unchanged after
    the query, and one more INSERT OVERWRITE of a single day replaces that
    day only."""
    from e_commerce_streaming_datapipeline_spark.operators.connectors import (
        q_warehouse_partitioned_roundtrip,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    days = {
        r["event_date"]: r["n_events"]
        for r in q_warehouse_partitioned_roundtrip(spark, sf_dir).collect()
    }
    assert spark.conf.get(key) == before
    day = min(d for d in days if d is not None)
    spark.sql(
        "INSERT OVERWRITE TABLE events_wh PARTITION (event_date) "
        "SELECT event_id, ts, user_id, event_type, value, props, "
        f"to_date(ts) AS event_date FROM events_src_wh "
        f"WHERE to_date(ts) = DATE '{day}' LIMIT 1"
    )
    after = {
        r["event_date"]: r["count"]
        for r in spark.table("events_wh").groupBy("event_date").count().collect()
    }
    assert after == {**days, day: 1}


def test_cms_bucket_of_a_large_key_matches_python_ints(spark):
    """The count-min buckets come from ``functions/hashing.py::
    universal_hash``, which reduces the key mod P before the multiply: a
    key near 2^62 buckets exactly as the unbounded-integer formula, where
    an unreduced ``key * a`` passes 2^63."""
    from e_commerce_streaming_datapipeline_spark.operators.statistics import (
        _CMS_PARAMS,
        _CMS_W,
        _cms_bucket_structs,
    )

    key = 2**62 + 12345
    got = (
        spark.range(1)
        .select(F.lit(key).alias("k"))
        .select(F.explode(_cms_bucket_structs("k")).alias("s"))
        .select("s.j", "s.bkt")
        .collect()
    )
    want = {j: (key * a + b) % (2**31 - 1) % _CMS_W for j, a, b in _CMS_PARAMS}
    assert {r["j"]: r["bkt"] for r in got} == want


# the connectors that write the fixture out and read it back from files
_ROUNDTRIP_CONNECTORS = (
    "csv_source_stats",
    "orc_source_stats",
    "xml_source_stats",
    "schema_evolution_read",
    "corrupt_dlq_roundtrip",
    "warehouse_partitioned_roundtrip",
    "bucketed_order_join",
    "python_datasource_sink_roundtrip",
)


@pytest.mark.parametrize("name", _ROUNDTRIP_CONNECTORS)
def test_roundtrip_connector_builds_do_not_share_files(spark, sf_dir, name):
    """Each build writes to its own scratch directory, so a second build
    leaves the files the first one lists in place: collecting the first
    build afterwards reads what it wrote."""
    from e_commerce_streaming_datapipeline_spark.plans.registry import get_query

    builder = get_query(name).builder
    first = builder(spark, sf_dir)
    second = builder(spark, sf_dir)
    assert sorted(map(repr, first.collect())) == sorted(map(repr, second.collect()))


def test_dedup_winner_stable_under_repartition(spark, sf_dir):
    from e_commerce_streaming_datapipeline_spark.operators.dedup import q_dedup_events

    a = sorted(map(tuple, q_dedup_events(spark, sf_dir).collect()))
    events = load_table(spark, "events", sf_dir).repartition(13)
    events.createOrReplaceTempView("_ev13")
    # same plan over a different partitioning must produce identical winners
    b = sorted(map(tuple, q_dedup_events(spark, sf_dir).repartition(7).collect()))
    assert a == b


def test_cosine_expr_matches_numpy(spark):
    rng = np.random.default_rng(7)
    vecs = [(i, rng.normal(size=16).astype(float).tolist()) for i in range(20)]
    df = spark.createDataFrame(vecs, "id long, v array<double>")
    pairs = (
        df.alias("a")
        .crossJoin(df.alias("b"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("ia"),
            F.col("b.id").alias("ib"),
            cosine_similarity_expr(F.col("a.v"), F.col("b.v")).alias("cs"),
        )
    )
    for row in pairs.collect():
        va = np.array(vecs[row["ia"]][1])
        vb = np.array(vecs[row["ib"]][1])
        want = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert abs(row["cs"] - want) < 1e-12


def test_events_ts_matches_duckdb_truncation(spark, sf_dir):
    """ns->µs normalization must agree with DuckDB's parquet read exactly."""
    got = (
        load_table(spark, "events", sf_dir)
        .orderBy("event_id")
        .select("ts")
        .limit(50)
        .collect()
    )
    want = duckdb.sql(
        f"SELECT ts FROM read_parquet('{sf_dir}/events.parquet') ORDER BY event_id LIMIT 50"
    ).fetchall()
    assert [r["ts"] for r in got] == [w[0] for w in want]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """The GMV filter must be pushed into the parquet scan (SURVEY scale
    mandate: PushedFilters + pruned ReadSchema)."""
    df = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase").select("value")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)" in plan
    assert "ReadSchema: struct<event_type:string,value:double>" in plan


def test_broadcast_join_for_dims(spark, sf_dir):
    from e_commerce_streaming_datapipeline_spark.operators.joins import q_region_revenue

    plan = q_region_revenue(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_join_semantics(spark, sf_dir):
    """Every matched purchase must be the latest one at-or-before the click;
    unmatched clicks must have no earlier purchase by that user."""
    from e_commerce_streaming_datapipeline_spark.operators.advanced import q_asof_last_purchase

    res = q_asof_last_purchase(spark, sf_dir)
    assert res.where(F.col("last_purchase_ts") > F.col("ts")).count() == 0

    events = load_table(spark, "events", sf_dir)
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    unmatched = res.where(F.col("last_purchase_ts").isNull())
    bad = unmatched.join(
        purchases,
        (unmatched.user_id == purchases.p_user) & (purchases.p_ts <= unmatched.ts),
    )
    assert bad.count() == 0


def test_range_join_bucketing_matches_naive(spark, sf_dir):
    """The bucketed range-join rewrite must agree with the naive inequality
    join it replaces."""
    from e_commerce_streaming_datapipeline_spark.operators.advanced import q_user_activity_1h

    events = load_table(spark, "events", sf_dir)
    left = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = events.select(F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"))
    naive = (
        left.join(
            right,
            (left.user_id == right.r_user)
            & (right.r_ts >= left.ts - F.expr("INTERVAL 1 HOUR"))
            & (right.r_ts < left.ts),
            "left",
        )
        .groupBy("event_id")
        .agg(F.count("r_ts").alias("n"))
    )
    got = {r["event_id"]: r["events_prev_1h"] for r in q_user_activity_1h(spark, sf_dir).collect()}
    want = {r["event_id"]: r["n"] for r in naive.collect()}
    assert got == want


def test_range_join_plan_has_no_nested_loop(spark, sf_dir):
    """The bucketed rewrite must plan as a hash equi-join — if the bucket
    keys fell out of the join condition, Catalyst would fall back to
    BroadcastNestedLoopJoin and the operator would not survive scale."""
    from e_commerce_streaming_datapipeline_spark.operators.advanced import q_user_activity_1h

    plan = q_user_activity_1h(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    assert "Cartesian" not in plan


def test_order_details_plan_avoids_distinct_expand(spark, sf_dir):
    """COUNT(DISTINCT) via pre-aggregation: the physical plan must not
    contain an Expand node (the distinct-aggregate rewrite that doubles the
    shuffled row count, and whose group order follows the JVM's
    expression-id counter when there are two distinct groups)."""
    from e_commerce_streaming_datapipeline_spark.operators.joins import (
        q_order_details,
        q_region_revenue,
    )

    for builder in (q_order_details, q_region_revenue):
        plan = builder(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in plan, builder.__name__


def test_incremental_dedup_plan_is_broadcast_anti_join(spark, sf_dir):
    """The existing-corpus side must reach the anti join as a distinct-ed
    broadcast hash relation (the dedup index), never a sort-merge of raw
    documents."""
    from e_commerce_streaming_datapipeline_spark.operators.dedup import q_incremental_dedup

    plan = q_incremental_dedup(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_plan_pushes_topk_below_shuffle(spark, sf_dir):
    """The per-doc top-3 must plan as a WindowGroupLimit (partial top-k
    before the doc_id shuffle) — the rank-filter pushdown that keeps the
    window sort bounded at any corpus size."""
    from e_commerce_streaming_datapipeline_spark.operators.text import q_tfidf_top_terms

    plan = q_tfidf_top_terms(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_embedding_centroids_partial_agg_before_shuffle(spark, sf_dir):
    """Dimension-wise means must combine map-side (partial_avg before the
    (label, pos) exchange) so 10^9 vectors shuffle |labels| x dims partials,
    not vectors."""
    from e_commerce_streaming_datapipeline_spark.operators.similarity import q_embedding_centroids

    plan = q_embedding_centroids(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "partial_avg" in plan


def test_train_test_split_is_exhaustive_and_disjoint(spark, sf_dir):
    """Hash-split property: every document lands in exactly one split, and
    re-running assigns identically (content-addressed, not rand-seeded)."""
    from e_commerce_streaming_datapipeline_spark.operators.text import q_train_test_split

    res = q_train_test_split(spark, sf_dir)
    total = res.agg(F.sum("docs")).collect()[0][0]
    assert total == load_table(spark, "documents", sf_dir).count()
    a = sorted(map(tuple, res.collect()))
    b = sorted(map(tuple, q_train_test_split(spark, sf_dir).collect()))
    assert a == b


def test_dropoff_sample_is_bounded_topk(spark, sf_dir):
    """The id sample must plan as a partial WindowGroupLimit (<= 3 rows per
    group leave each map task) — never a full collect_list shuffle."""
    from e_commerce_streaming_datapipeline_spark.operators.dropoff import q_dropoff_hourly

    plan = q_dropoff_hourly(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_grouping_sets_single_expand_pass(spark, sf_dir):
    """GROUPING SETS must plan as ONE scan + Expand + hash agg — never one
    scan per grouping combination."""
    from e_commerce_streaming_datapipeline_spark.operators.setops import q_grouping_sets_revenue

    plan = q_grouping_sets_revenue(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_salted_join_stays_on_shuffle_path(spark, sf_dir):
    """The salted join must exercise the shuffle-join path it exists to fix
    (a broadcast would silently bypass the salt) and carry the salt in the
    join keys."""
    from e_commerce_streaming_datapipeline_spark.operators.setops import q_salted_priority_revenue

    plan = q_salted_priority_revenue(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "__salt" in plan


def test_group_sample_is_bounded_topk(spark, sf_dir):
    """The per-group sampler must plan as a partial WindowGroupLimit (<= 5
    rows per group leave each map task)."""
    from e_commerce_streaming_datapipeline_spark.operators.sampling import q_group_sample_topk

    plan = q_group_sample_topk(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_stratified_sample_stable_under_append(spark, sf_dir):
    """Hash sampling must keep previously-selected rows selected when the
    corpus grows (the reproducibility property seeded sampleBy lacks)."""
    from e_commerce_streaming_datapipeline_spark.operators.sampling import hash_bucket

    docs = load_table(spark, "documents", sf_dir)
    pct = F.when(F.col("lang") == "en", 50).when(F.col("lang") == "de", 30).otherwise(20)
    full = {r.doc_id for r in docs.where(hash_bucket(F.col("doc_id"), 100) < pct).select("doc_id").collect()}
    half = docs.where(F.col("doc_id") < 200)
    sub = {r.doc_id for r in half.where(hash_bucket(F.col("doc_id"), 100) < pct).select("doc_id").collect()}
    assert sub == {d for d in full if d < 200}


def test_embedding_quantize_roundtrip_error_bounded(spark, sf_dir):
    """Dequantized vectors must be within half a quantization step of the
    original (the invariant that makes int8 ANN recall predictable)."""
    from e_commerce_streaming_datapipeline_spark.operators.sampling import q_embedding_quantize

    q = q_embedding_quantize(spark, sf_dir).limit(50).collect()
    emb = {r.vec_id: r.embedding for r in load_table(spark, "embeddings", sf_dir).limit(500).collect()}
    checked = 0
    for row in q:
        vec = emb.get(row.vec_id)
        if vec is None or row.scale_4dp == 0:
            continue
        absmax = max(abs(x) for x in vec)
        scale = 127.0 / max(absmax, 1e-12)
        qvec = [int(s) for s in row.qvec.split(",")]
        for x, qx in zip(vec, qvec):
            assert abs(qx - x * scale) <= 0.5 + 1e-6
        checked += 1
    assert checked > 0


def test_partition_pruning_prunes_files(spark, sf_dir):
    """A single-day filter on the date-partitioned layout must touch only
    that day's files, and the scan must carry a PartitionFilter."""
    from e_commerce_streaming_datapipeline_spark.operators.connectors import partitioned_events_dir

    import re

    part_dir = partitioned_events_dir(spark, sf_dir)
    events = spark.read.parquet(part_dir)
    one_day = events.where(F.col("event_date") == F.lit("2024-01-10"))
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # the day filter must land in PartitionFilters (directory-level pruning,
    # no file opened outside the day), not in DataFilters (row-level)
    assert re.search(r"PartitionFilters: \[[^\]]*event_date#\d+ = 2024-01-10", plan), plan
    assert "DataFilters: []" in plan


def test_shipping_priority_plan(spark, sf_dir):
    """Q3 shape must keep date filters in the scans, top-10 as
    TakeOrderedAndProject (per-partition heap, no global sort), and no
    nested-loop/cartesian fallback."""
    from e_commerce_streaming_datapipeline_spark.operators.joins import q_shipping_priority

    plan = q_shipping_priority(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert plan.count("PushedFilters: [IsNotNull") >= 2


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Both sides bucketed by the join key: the join subplan must contain
    ZERO shuffle Exchange nodes — co-location replaces the shuffle.  At
    fixture scale the planner would broadcast instead (equally shuffle-free),
    so broadcast is disabled to surface the path a 100-TB fact-fact join
    takes."""
    from e_commerce_streaming_datapipeline_spark.operators.connectors import bucketed_order_lineitem_join

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            bucketed_order_lineitem_join(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert plan.count("Bucketed: true") == 2


def test_order_priority_check_is_semi_join(spark, sf_dir):
    """Q4's EXISTS must plan as a LEFT SEMI join (one probe hit per order,
    no row multiplication) with the non-equi lateness conjunct as a join
    residual, and the date range pushed into the orders scan."""
    from e_commerce_streaming_datapipeline_spark.operators.tpch_shapes import q_order_priority_check

    plan = q_order_priority_check(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "GreaterThan(o_orderdate" in plan or "o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_idle_rich_customers_is_anti_join(spark, sf_dir):
    """Q22's NOT EXISTS must plan as a LEFT ANTI join, and the scalar
    average threshold as a 1-row broadcast (no per-row recompute)."""
    from e_commerce_streaming_datapipeline_spark.operators.tpch_shapes import q_idle_rich_customers

    plan = q_idle_rich_customers(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_large_volume_customers_aggregates_fact_once(spark, sf_dir):
    """Q18 must scan lineitem ONCE (aggregate-then-join), not re-join the
    raw fact after the HAVING subquery like the literal spec plan would."""
    from e_commerce_streaming_datapipeline_spark.operators.tpch_shapes import q_large_volume_customers

    plan = q_large_volume_customers(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 1
    assert "TakeOrderedAndProject" in plan


def test_discount_revenue_pushdown(spark, sf_dir):
    """Q6 is the pushdown canary: all three predicates must reach the
    parquet scan as PushedFilters and ReadSchema must prune to the 4
    referenced lineitem columns — a regression here means every scan in
    the engine got slower."""
    import re

    from e_commerce_streaming_datapipeline_spark.operators.tpch_shapes2 import q_discount_revenue_potential

    df = q_discount_revenue_potential(spark, sf_dir)
    # toString() abbreviates long PushedFilters lists; formatted mode doesn't
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    for pushed in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                   "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
                   "LessThan(l_quantity"):
        assert pushed in plan, f"{pushed} not pushed to scan"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 4, plan


def test_windowed_totals_scan_fact_once(spark, sf_dir):
    """Q15/Q20 compute their scalar-max / per-part totals as a window over
    the already-aggregated relation, NOT an aggregate-then-join-back (whose
    branches canonicalize differently and plan two fact scans).  The final
    AQE plan must contain exactly one lineitem scan each; Q2's join-back
    variant must show ReuseExchange firing instead."""
    from e_commerce_streaming_datapipeline_spark.operators.tpch_shapes2 import (
        q_dominant_part_suppliers,
        q_min_cost_supplier,
        q_top_supplier,
    )

    for builder in (q_top_supplier, q_dominant_part_suppliers):
        df = builder(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        scans = [l for l in final.splitlines()
                 if "FileScan" in l and "lineitem.parquet" in l]
        assert len(scans) == 1, f"{builder.__name__}: {len(scans)} lineitem scans"

    df = q_min_cost_supplier(spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final or "ReusedQueryStage" in final


def test_decontam_is_broadcast_join_corpus_never_shuffles(spark, sf_dir):
    """The benchmark n-gram set must reach the contamination join as a
    broadcast relation — the 100 TB training side probes map-side and never
    shuffles raw n-grams (SCALE.md corpus curation)."""
    from e_commerce_streaming_datapipeline_spark.operators.curation import q_benchmark_decontam

    plan = q_benchmark_decontam(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_user_erasure_marks_via_broadcast(spark, sf_dir):
    """The erasure-request list is tiny by nature: the mark join must be a
    broadcast left outer — the fact side never shuffles for a delete."""
    from e_commerce_streaming_datapipeline_spark.operators.curation import q_user_erasure

    plan = q_user_erasure(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan


def test_sequence_packing_single_window_shuffle(spark, sf_dir):
    """Cumsum binning must cost exactly ONE exchange (the lang partition for
    the running sum); the bin aggregation reuses that partitioning."""
    from e_commerce_streaming_datapipeline_spark.operators.curation import q_sequence_packing

    plan = q_sequence_packing(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    import re

    # count distinct Exchange operators (AQE may reuse); expect 1 shuffle
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}:\n{plan}"


def test_pii_redaction_prunes_scan_to_two_columns(spark, sf_dir):
    """Redaction touches only (doc_id, text): the parquet ReadSchema must
    prune lang/source/n_chars — at 100 TB reading dead columns IS the cost."""
    from e_commerce_streaming_datapipeline_spark.operators.curation import q_pii_redaction

    plan = q_pii_redaction(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_approx_percentiles_bracket_exact(spark, sf_dir):
    """approx_percentile (GK sketch, accuracy 10000 ⇒ rank error < 1 row on
    the fixture) returns a DISCRETE order statistic while the exact twin
    interpolates — so the right sanity floor is a quantile bracket: the
    sketch's p-quantile must lie within the exact [p-0.02, p+0.02] value
    range (tighter than the registered query's ±0.05 driver envelope, so
    this test is the binding local floor).  The raw GK values stay out of
    the hashed query output (engine-specific); since r9 the registered
    query instead hashes per-quantile in-bracket booleans — asserted
    all-TRUE here too."""
    from e_commerce_streaming_datapipeline_spark.operators.advanced import (
        q_approx_value_percentiles,
    )
    from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

    events = load_table(spark, "events", sf_dir)
    brackets = {
        r["event_type"]: r
        for r in events.groupBy("event_type")
        .agg(
            *[
                F.percentile(F.col("value"), max(p - 0.02, 0.0)).alias(f"lo{i}")
                for i, p in enumerate((0.5, 0.9, 0.99))
            ],
            *[
                F.percentile(F.col("value"), min(p + 0.02, 1.0)).alias(f"hi{i}")
                for i, p in enumerate((0.5, 0.9, 0.99))
            ],
            *[
                F.approx_percentile(F.col("value"), p, 10000).alias(f"gk{i}")
                for i, p in enumerate((0.5, 0.9, 0.99))
            ],
        )
        .collect()
    }
    assert brackets
    for et, b in brackets.items():
        for i in range(3):
            assert b[f"lo{i}"] - 1e-9 <= b[f"gk{i}"] <= b[f"hi{i}"] + 1e-9, (
                et,
                i,
                b[f"gk{i}"],
            )
    audited = {
        r["event_type"]: r
        for r in q_approx_value_percentiles(spark, sf_dir).collect()
    }
    assert audited.keys() == brackets.keys()
    for et, a in audited.items():
        assert a["p50_in_bracket"] and a["p90_in_bracket"] and a["p99_in_bracket"], et


def test_ordered_funnel_single_fact_shuffle(spark, sf_dir):
    """Three funnel stages must share ONE user_id exchange (each stage is a
    window expression over the same partitioning, not a self-join); only the
    final 1-row rollup adds a SinglePartition exchange."""
    from e_commerce_streaming_datapipeline_spark.operators.funnel import q_ordered_funnel

    plan = q_ordered_funnel(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    import re

    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}:\n{plan}"
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_lint_plan_flags_and_allows(spark, sf_dir):
    """lint_plan (the library form of this suite's plan gates) must flag a
    genuine cartesian product and a nested loop, stay quiet on a clean
    equi-join, and honor the allow flags."""
    from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang").limit(10)
    other = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("id2")
    ).limit(10)

    cross = docs.crossJoin(other)
    rules = {f.rule for f in lint_plan(cross)}
    assert "cartesian" in rules or "nested-loop" in rules

    nlj = docs.join(other, docs.doc_id < other.id2)
    assert any(f.rule == "nested-loop" for f in lint_plan(nlj))
    assert not any(
        f.rule == "nested-loop" for f in lint_plan(nlj, allow_nested_loop=True)
    )

    clean = docs.join(other, docs.doc_id == other.id2)
    assert lint_plan(clean) == []

    distinct_mix = load_table(spark, "events", sf_dir).groupBy("event_type").agg(
        F.count("*"), F.count_distinct("user_id"), F.count_distinct("event_id")
    )
    assert any(f.rule == "distinct-expand" for f in lint_plan(distinct_mix))


def test_lint_flags_global_window_and_spares_bounded_forms(spark, sf_dir):
    """The round-4 global-window rule: an unpartitioned ranking window must
    be flagged; a rank-filtered top-k (WindowGroupLimit pushdown bounds the
    single-partition exchange), a partitioned window, and the two-phase
    rank's own __rank_pid offsets window must not; allow_global_window
    silences it for documented bounded relations."""
    from pyspark.sql import Window

    from e_commerce_streaming_datapipeline_spark.functions.ranks import global_row_number
    from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")

    naive = docs.withColumn(
        "r", F.row_number().over(Window.orderBy("n_chars", "doc_id"))
    )
    assert any(f.rule == "global-window" for f in lint_plan(naive))
    assert not any(
        f.rule == "global-window"
        for f in lint_plan(naive, allow_global_window=True)
    )

    topk = docs.withColumn(
        "r", F.row_number().over(Window.orderBy("n_chars", "doc_id"))
    ).where(F.col("r") <= 5)
    assert not any(f.rule == "global-window" for f in lint_plan(topk))

    partitioned = docs.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy(F.col("doc_id") % 7).orderBy("n_chars", "doc_id")
        ),
    )
    assert not any(f.rule == "global-window" for f in lint_plan(partitioned))

    two_phase = global_row_number(docs, [F.col("n_chars"), F.col("doc_id")])
    assert not any(f.rule == "global-window" for f in lint_plan(two_phase))


def test_two_phase_rank_matches_global_window(spark, sf_dir):
    """global_row_number must assign exactly the ranks of
    row_number() OVER (ORDER BY ...) under a total order, for ascending,
    descending, and mixed keys, and its total_col must equal count(*);
    ntile_from_rank must reproduce SQL NTILE for every (n, k) fill shape."""
    from pyspark.sql import Window

    from e_commerce_streaming_datapipeline_spark.functions.ranks import (
        global_row_number,
        ntile_from_rank,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars", "lang")
    for order in (
        [F.col("n_chars").asc(), F.col("doc_id").asc()],
        [F.col("n_chars").desc(), F.col("doc_id").asc_nulls_last()],
        [F.col("lang").asc_nulls_last(), F.col("doc_id").desc()],
    ):
        expected = {
            r["doc_id"]: r["r"]
            for r in docs.withColumn("r", F.row_number().over(Window.orderBy(*order)))
            .select("doc_id", "r")
            .collect()
        }
        got = {
            r["doc_id"]: r["r"]
            for r in global_row_number(docs, order, rank_col="r", total_col="n")
            .select("doc_id", "r")
            .collect()
        }
        assert got == expected
    n_total = (
        global_row_number(docs, [F.col("doc_id")], total_col="n")
        .select("n")
        .distinct()
        .collect()
    )
    assert [r["n"] for r in n_total] == [docs.count()]

    # NTILE parity across uneven fills: every (n, k) with n in 1..13, k in 1..5
    import pandas as pd

    for n in range(1, 14):
        for k in range(1, 6):
            pdf = spark.createDataFrame(
                pd.DataFrame({"rank": list(range(1, n + 1)), "total": [n] * n})
            )
            got_tiles = [
                r["t"]
                for r in pdf.select(
                    "rank",
                    ntile_from_rank(F.col("rank"), F.col("total"), k).alias("t"),
                )
                .orderBy("rank")
                .collect()
            ]
            sql_tiles = [
                r["t"]
                for r in spark.createDataFrame(
                    pd.DataFrame({"v": list(range(1, n + 1))})
                )
                .select(F.ntile(k).over(Window.orderBy("v")).alias("t"), "v")
                .orderBy("v")
                .select("t")
                .collect()
            ]
            assert got_tiles == sql_tiles, (n, k)


def test_external_session_can_run_closure_pickling_queries(tmp_path):
    """A driver-like process (foreign cwd, vanilla SparkSession, no
    PYTHONPATH) must be able to run operators whose closures pickle by
    reference — executor workers get the package via the addPyFile shipping
    in ensure_session_conf.  Regression: multimodal mapInPandas + the Python
    DataSource failed exactly this way before the fix."""
    import subprocess
    import sys
    import textwrap

    from tests.conftest import SF_DIR

    entry = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    script = textwrap.dedent(
        f"""
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "__spark_entry__", {str(entry)!r})
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        from pyspark.sql import SparkSession
        spark = SparkSession.builder.master("local[2]").getOrCreate()
        qs = mod.queries()
        # python_datasource_feed FIRST: it must ship the package itself via
        # register() -> ensure_session_conf, not ride on a prior query's
        # addPyFile side effect
        for name in ("python_datasource_feed", "multimodal_decode"):
            assert qs[name](spark, {SF_DIR!r}).count() > 0, name
        print("EXTERNAL_SESSION_OK")
        """
    )
    import os

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the property under test: no import-path help
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "EXTERNAL_SESSION_OK" in proc.stdout, proc.stderr[-2000:]


def test_load_table_reuses_schema_until_the_file_changes(spark, tmp_path):
    """A second load of an unchanged single-file table runs no Spark job:
    its inferred schema is reused.  Rewriting the file (here with an extra
    column) makes the next load infer again and see the new column."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import sync_status_store

    sc = spark.sparkContext
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)

    def load_jobs():
        group = f"load-{uuid.uuid4().hex}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            df = load_table(spark, "t", str(tmp_path))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sync_status_store(sc)
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    first, _ = load_jobs()
    second, jobs = load_jobs()
    assert jobs == 0
    assert second.schema == first.schema
    # schemas are cached, not DataFrames: two loads still self-join
    assert first.join(second, first.a == second.a).count() == 2

    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    third, _ = load_jobs()
    assert third.columns == ["a", "b"]
    assert [tuple(r) for r in third.collect()] == [(3, "x")]


def test_ship_package_concurrent_first_callers_ship_one_whole_zip(
    tmp_path, monkeypatch
):
    """Concurrent first callers on one context (threads running builders)
    ship the package exactly once, and never a half-written zip."""
    import sys
    import tempfile
    import threading
    import types
    import zipfile

    from e_commerce_streaming_datapipeline_spark.sources import batch

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(batch, "_SHIPPED_SESSIONS", set())
    shipped, errors = [], []

    class StubContext:
        applicationId = "stub-app"

        def addPyFile(self, path):
            with zipfile.ZipFile(path) as zf:
                shipped.append(zf.namelist())

    stub = types.SimpleNamespace(sparkContext=StubContext())
    n_threads = 8
    barrier = threading.Barrier(n_threads)

    def first_call():
        try:
            barrier.wait(timeout=30)
            batch._ship_package(stub)
        except Exception as exc:  # e.g. BadZipFile on a half-written zip
            errors.append(exc)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=first_call) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(shipped) == 1
    assert "e_commerce_streaming_datapipeline_spark/__init__.py" in shipped[0]


def test_salting_balances_skewed_join_reducers(spark):
    """Skew-resilience evidence for the salting pattern behind
    salted_priority_revenue (operators/setops.py): on a deliberately skewed
    join key (~75% of fact rows on ONE hot key), the unsalted shuffle-hash
    join lands the hot key's rows on a single reducer, while the 8-way
    salted twin spreads them across reducers.  Asserted on rows-per-output-
    partition of the join itself (the shuffle-size evidence, deterministic —
    no timing), with AQE disabled so nothing rebalances behind the test.

    Two measurement traps this test works around: load_table ->
    ensure_session_conf re-enables AQE, so the disable must come AFTER the
    loads; and spark_partition_id() gets project-pushed below the exchange
    (reporting scan-side partitions), so distribution is read via
    rdd.mapPartitions — the true physical output partitioning."""
    from tests.conftest import SF_DIR_T2

    li = load_table(spark, "lineitem", SF_DIR_T2).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    was_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # deterministic skew: 3 of 4 rows collapse onto key 1
        fact = li.withColumn(
            "k",
            F.when(F.col("l_orderkey") % 4 != 0, F.lit(1)).otherwise(
                F.col("l_orderkey")
            ),
        )
        dim = fact.select("k").distinct().withColumn("prio", F.col("k") % 5)

        def partition_counts(df):
            return df.rdd.mapPartitions(
                lambda it: iter([sum(1 for _ in it)])
            ).collect()

        plain = fact.join(dim.hint("shuffle_hash"), "k")
        # salt must vary within the hot key: (orderkey, linenumber) is
        # row-unique, whereas linenumber alone has only 7 distinct values.
        # 32 buckets >> 8 reducers: the hot key's salt groups hash into
        # partitions with collisions (birthday problem), so the bucket count
        # must exceed the target parallelism for the spread to smooth out.
        n_salt = 32
        salted_f = fact.withColumn(
            "__salt", F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(n_salt))
        )
        salted_d = dim.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        )
        salted = salted_f.join(
            salted_d.hint("shuffle_hash"),
            (salted_f.k == salted_d.k) & (salted_f.__salt == salted_d.__salt),
        )

        total = fact.count()
        assert salted.count() == plain.count() == total  # same join result size

        plain_max = max(partition_counts(plain))
        salted_max = max(partition_counts(salted))
        # unsalted: the hot key's ~75% of rows sit on one reducer
        assert plain_max >= 0.7 * total, (plain_max, total)
        # salted: the hot key spreads 8 ways; worst reducer carries a
        # fraction of the unsalted hot partition
        assert salted_max <= plain_max / 3, (salted_max, plain_max)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", was_aqe)


def test_diagnosed_salting_balances_hot_key(spark):
    """salted_join_rewrite's mechanism (diagnosed_salted_join) on a
    deliberately skewed key, with AQE fully disabled so nothing rebalances
    behind the rewrite: the hot key's rows must spread across reducers
    while the join result stays identical to the plain join — the
    partial-salting twin of test_salting_balances_skewed_join_reducers
    (which salts every key)."""
    from e_commerce_streaming_datapipeline_spark.operators.setops import (
        diagnosed_salted_join,
    )
    from tests.conftest import SF_DIR_T2

    li = load_table(spark, "lineitem", SF_DIR_T2).select(
        "l_orderkey", "l_linenumber"
    )
    was_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # ~75% of fact rows collapse onto key 1; the rest keep their key
        fact = li.withColumn(
            "k",
            F.when(F.col("l_orderkey") % 4 != 0, F.lit(1)).otherwise(
                F.col("l_orderkey")
            ),
        )
        dim = fact.groupBy("k").agg(F.count("*").alias("n_k"))
        # diagnose: mean-multiple threshold finds exactly the planted key
        thr_row = dim.agg((F.avg("n_k") * 3).alias("t")).collect()[0]
        hot = dim.where(F.col("n_k") > thr_row["t"]).select("k")
        assert hot.count() == 1

        plain = fact.join(dim.hint("shuffle_hash"), "k")
        salted = diagnosed_salted_join(
            fact,
            dim,
            "k",
            hot,
            buckets=32,
            probe_salt=F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(32)),
        )

        def partition_counts(df):
            return df.rdd.mapPartitions(
                lambda it: iter([sum(1 for _ in it)])
            ).collect()

        total = fact.count()
        assert salted.count() == plain.count() == total

        plain_max = max(partition_counts(plain))
        salted_max = max(partition_counts(salted))
        assert plain_max >= 0.7 * total, (plain_max, total)
        assert salted_max <= plain_max / 3, (salted_max, plain_max)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", was_aqe)


def test_aqe_replans_smj_to_broadcast_at_runtime(spark, sf_dir):
    """AQE evidence: a join whose build side only becomes broadcast-small
    AFTER a selective filter (stats unknown at plan time on the filtered
    relation because the 1-file scan estimate is pessimistic) must be
    re-planned to BroadcastHashJoin from runtime shuffle statistics — the
    local[32] stand-in for the 1000-executor case where static planning
    cannot see post-filter sizes."""
    from pyspark.sql import functions as F

    from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    # force the static planner away from broadcast, then let AQE reverse it
    # from runtime shuffle stats.  The adaptive threshold must be set
    # explicitly: it FALLS BACK to the static one, and -1 there would
    # disable AQE's conversion too.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
    try:
        small = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        joined = lineitem.join(small, lineitem.l_orderkey == small.o_orderkey).agg(
            F.count("*").alias("n")
        )
        joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan isFinalPlan=true" in final
        assert "BroadcastHashJoin" in final.split("== Initial Plan ==")[0], (
            "AQE did not convert the shuffle join to broadcast at runtime"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)


def test_observation_metrics_ride_the_query(spark, sf_dir):
    """`df.observe` evidence: accumulator-style metrics collected DURING a
    query (no second scan) — the production monitoring hook the streaming
    side gets from StreamingQueryListener, on the batch path."""
    from pyspark.sql import Observation

    li = load_table(spark, "lineitem", sf_dir)
    obs = Observation("li_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum((F.col("l_discount") > 0.05).cast("long")).alias("discounted"),
    )
    n = observed.where(F.col("l_quantity") > 0).count()
    got = obs.get
    assert got["rows_seen"] == li.count() == n
    assert 0 < got["discounted"] < got["rows_seen"]
