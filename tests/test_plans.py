"""Physical-plan assertions — codify the perf claims so regressions that
silently change the plan shape (a lost broadcast, an extra shuffle, lost
column pruning) fail loudly."""

import contextlib
import io
import re

import pytest


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def final_plan(df) -> str:
    """The executed physical plan of `df`, AQE's final plan once `df`
    has run (without the initial plan AQE prints beside it)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.treeString()


def node_count(plan: str, node: str) -> int:
    """Operators named `node` in a plan tree string."""
    return len(re.findall(rf"(?:^|[-+:*)\s]){node}\b", plan, re.M))


class TestPlanShapes:
    def test_way_node_resolution_uses_sort_merge(self, spark, sf_dir):
        import __spark_entry__ as E

        p = plan_of(E.queries()["way_node_resolution"](spark, sf_dir))
        assert "SortMergeJoin" in p
        assert "BroadcastHashJoin" not in p

    def test_pip_city_no_shuffle_before_udf(self, spark, sf_dir):
        """pip_resolve is shuffle-free: the only Exchange (if any) belongs
        to downstream consumers, not the containment itself."""
        from osm2mp_spark.operators.pip_join import pip_resolve
        from osm2mp_spark.queries.spatial import _city_index, customer_points

        df = pip_resolve(customer_points(spark, sf_dir), _city_index())
        p = plan_of(df)
        assert "Exchange" not in p
        assert "ArrowEvalPython" in p or "PythonUDF" in p or "Project" in p

    def test_knn_expression_no_join_no_shuffle(self, spark, sf_dir):
        from osm2mp_spark.operators.knn import knn_bruteforce
        from osm2mp_spark.queries.spatial import customer_points
        from osm2mp_spark.sources.layers import CITIES

        anchors = [(c["area_id"], c["center"][0], c["center"][1]) for c in CITIES]
        p = plan_of(knn_bruteforce(customer_points(spark, sf_dir), anchors))
        assert "Join" not in p
        assert "Exchange" not in p

    def test_image_flagship_single_exchange_pruned_scan(self, spark, tmp_path):
        from osm2mp_spark.plans.images_flagship import flagship_images
        from osm2mp_spark.sources.images import generate_images_df

        path = str(tmp_path / "imgs")
        generate_images_df(spark, 30, partitions=2).write.parquet(path)
        p = plan_of(flagship_images(spark, path))
        # one shuffle total (the final partial->final aggregate)
        assert p.count("Exchange") == 1
        # scan pruned to the 5 needed columns (no w/h/caption/phash)
        assert "caption" not in p.split("ReadSchema")[-1]
        assert "MapInPandas" in p

    def test_small_dim_joins_broadcast(self, spark, sf_dir):
        import __spark_entry__ as E

        p = plan_of(E.queries()["street_relation_tags"](spark, sf_dir))
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p

    def test_pricing_summary_filter_pushdown(self, spark, sf_dir):
        import __spark_entry__ as E

        p = plan_of(E.queries()["pricing_summary"](spark, sf_dir))
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p

    def test_dedup_pair_joins_never_cartesian(self, spark, sf_dir):
        """The PAIR joins of simhash_pairs / dedup_embedding_cosine /
        ngram_jaccard are banded equi-joins — an inequality-only pair join
        would plan as CartesianProduct (or an un-keyed nested loop over the
        corpus×corpus space) and die at scale. Tiny fixed-size dimension
        crossJoins (8-row hexpos etc.) are allowed."""
        import re

        import __spark_entry__ as E

        keys = {
            "simhash_pairs": "bandkey",
            "dedup_embedding_cosine": "band_no",
            "ngram_jaccard": "shingle",
        }
        for name, key in keys.items():
            p = plan_of(E.queries()[name](spark, sf_dir))
            assert "CartesianProduct" not in p, name
            # the pair join is an equi-join keyed on the banding column
            assert re.search(
                rf"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \[{key}", p
            ), name

    def test_knn_city_query_zero_shuffle(self, spark, sf_dir):
        """The full J15 query (containment filter + expression kNN) must
        plan with no join and no exchange — one Arrow resolve, one filter,
        one expression projection."""
        import __spark_entry__ as E

        p = plan_of(E.queries()["knn_city"](spark, sf_dir))
        assert "Exchange" not in p
        assert "Join" not in p

    def test_pip_hierarchy_zero_shuffle_single_arrow_pass(self, spark, sf_dir):
        """All three addressing levels resolve in ONE batched Arrow node —
        no joins, no exchanges (Catalyst fuses adjacent scalar pandas UDFs)."""
        import __spark_entry__ as E

        p = plan_of(E.queries()["pip_hierarchy"](spark, sf_dir))
        assert "Exchange" not in p
        assert "Join" not in p
        assert p.count("ArrowEvalPython") == 1


class TestRound3PlanShapes:
    """Pin the round-3 rewrites: a regression back to the amplified shapes
    changes these plans visibly."""

    def test_simhash_votes_one_aggregate_no_explode(self, spark, sf_dir):
        """dedup_simhash: per-token digit columns + ONE groupBy of 32
        map-side-combined sums — no hexpos/k crossJoin row explosion."""
        import __spark_entry__ as E

        p = plan_of(E.queries()["dedup_simhash"](spark, sf_dir))
        assert "partial_sum" in p             # map-side combine present
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        # exactly one explode (the token split), not hexpos x k
        assert p.count("Generate") <= 1

    def test_minhash_single_groupby_no_seed_crossjoin(self, spark, sf_dir):
        """dedup_minhash_lsh: N_HASH min aggregates in one groupBy; the only
        joins are the band-bucket equi-join (no seed-table crossJoin)."""
        import __spark_entry__ as E

        p = plan_of(E.queries()["dedup_minhash_lsh"](spark, sf_dir))
        assert "partial_min" in p
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p

    def test_embedding_dedup_distinct_before_dot(self, spark, sf_dir):
        """dedup_embedding_cosine: the exact-dot verification happens after
        the pair-id distinct via BROADCAST lookback joins of the vector
        table — never per band collision."""
        import __spark_entry__ as E

        p = plan_of(E.queries()["dedup_embedding_cosine"](spark, sf_dir))
        assert p.count("BroadcastHashJoin") >= 2  # qa/na and qb/nb lookbacks
        assert "CartesianProduct" not in p

    def test_image_spatial_join_single_lineage(self, spark, sf_dir):
        """One generation pass, zero joins: features carry lon/lat through,
        PIP runs on the feature rows."""
        import __spark_entry__ as E

        p = plan_of(E.queries()["image_spatial_join"](spark, sf_dir))
        assert "Join" not in p
        assert p.count("MapInPandas") == 2  # generate, then decode+features


class TestLateRound3PlanShapes:
    """Pin the plan shapes of the session's new operator families."""

    def test_image_ann_topk_banded_broadcast_no_cartesian(
        self, spark, sf_dir, monkeypatch
    ):
        """The query set reaches the corpus only through the bandkey
        broadcast equi-join — an inequality-only pair join would plan as a
        cartesian/nested loop over corpus x corpus. The broadcast side's
        est_rows must bound the band rows it really holds after the
        explode (probes included), or the size gate is meaningless."""
        import __spark_entry__ as E
        import osm2mp_spark.plans.hints as hints

        for name in ("image_ann_topk", "image_ann_topk_wide"):
            gated = []
            orig = hints.maybe_broadcast

            def spy(df, est_rows):
                gated.append((df, est_rows))
                return orig(df, est_rows=est_rows)

            monkeypatch.setattr(hints, "maybe_broadcast", spy)
            p = plan_of(E.queries()[name](spark, sf_dir))
            monkeypatch.setattr(hints, "maybe_broadcast", orig)
            assert "CartesianProduct" not in p, name
            assert "BroadcastNestedLoopJoin" not in p, name
            assert p.count("BroadcastHashJoin") == 1, name
            assert len(gated) == 1, name
            df, est = gated[0]
            assert 0 < df.count() <= est, name

    def test_cell_rollup_one_pass_all_levels(self, spark, sf_dir):
        """All four resolution levels come from ONE shuffle: grouping-set
        Expand + map-side partial aggregation, single Exchange."""
        import __spark_entry__ as E

        p = plan_of(E.queries()["cell_rollup"](spark, sf_dir))
        assert "Expand" in p
        assert p.count("Exchange") == 1
        assert "partial_count" in p

    def test_render_chain_queries_single_shuffle(self, spark, sf_dir):
        """The chain renderers aggregate per chain with map-side partial
        aggregation and exactly one Exchange — no window, no join."""
        import __spark_entry__ as E

        for name in ("mp_polyline_render", "mp_road_render"):
            p = plan_of(E.queries()[name](spark, sf_dir))
            assert p.count("Exchange") == 1, name
            assert "Join" not in p, name
            assert "Window" not in p, name


class TestConditionalBroadcast:
    def test_gated_broadcast_falls_back_to_shuffle(self, spark):
        """maybe_broadcast keeps the hint under the ceiling and drops it
        above: with the ceiling forced to 1 row, the image ANN candidate
        join must plan WITHOUT a broadcast of the query side (VERDICT r03:
        unconditional F.broadcast of a corpus-derived frame OOMs at
        10^12)."""
        import __spark_entry__ as E

        key = "spark.osm2mp.broadcast.maxRows"
        auto = "spark.sql.autoBroadcastJoinThreshold"
        old_auto = spark.conf.get(auto)
        spark.conf.set(auto, "-1")  # isolate the explicit hint
        try:
            spark.conf.set(key, "1")
            low = E.queries()["image_ann_topk"](spark, "/root/testdata/sf0.001")
            plan_low = low._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan_low
            assert "CartesianProduct" not in plan_low

            spark.conf.set(key, str(4_000_000))
            hi = E.queries()["image_ann_topk"](spark, "/root/testdata/sf0.001")
            plan_hi = hi._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" in plan_hi
        finally:
            spark.conf.unset(key)
            spark.conf.set(auto, old_auto)

    def test_partitioned_table_is_not_sized_for_broadcast(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """A hive-partitioned table keeps its rows under `k=<v>/`
        subdirectories, which a flat footer listing does not count. Its
        size is unknown, so the corpus-sized joins of
        dedup_embedding_cosine and entrance_poi get no broadcast hint; an
        estimate of 0 rows would broadcast a table of any size."""
        import os

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__ as E
        import osm2mp_spark.plans.hints as hints

        sf = tmp_path / "sf"
        sf.mkdir()
        for f in os.listdir(sf_dir):
            (sf / f).symlink_to(os.path.join(sf_dir, f))
        for t in ("embeddings", "part"):
            tab = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
            (sf / f"{t}.parquet").unlink()
            pq.write_to_dataset(
                tab.append_column("k", pa.array(np.arange(len(tab)) % 2)),
                str(sf / f"{t}.parquet"), partition_cols=["k"],
            )
        orig = hints.maybe_broadcast
        for name in ("dedup_embedding_cosine", "entrance_poi"):
            gated = []

            def spy(df, est_rows):
                gated.append(est_rows)
                return orig(df, est_rows=est_rows)

            monkeypatch.setattr(hints, "maybe_broadcast", spy)
            E.queries()[name](spark, str(sf))
            monkeypatch.setattr(hints, "maybe_broadcast", orig)
            assert gated and all(e is None for e in gated), (name, gated)


class TestClipPlan:
    def test_clip_chains_one_sort_two_windows(self, spark, sf_dir):
        """Clipping sorts each chain once: lag/lead and the running run
        count are its two windows, and the lone-vertex rule leaves no
        per-part size window (which would add a Sort and a Window)."""
        import __spark_entry__ as E

        p = plan_of(E.queries()["clip_chains"](spark, sf_dir))
        assert node_count(p, "Window") == 2, p
        assert node_count(p, "Sort") == 1, p


class TestCodegenLedger:
    def test_fresh_source_compiles_once(self, spark):
        """A projection with a literal no earlier plan used compiles new
        classes; running the same query again compiles none."""
        import time

        from osm2mp_spark.metrics import codegen_compiles

        lit = 10**12 + time.time_ns() % 10**9

        def run():
            spark.range(5).selectExpr(f"id * {lit} AS x").collect()

        before = codegen_compiles(spark)
        run()
        cold = codegen_compiles(spark)
        run()
        warm = codegen_compiles(spark)
        assert cold["compiles"] - before["compiles"] >= 1
        assert warm["compiles"] == cold["compiles"]
        if cold["source_bytes"] is not None and before["source_bytes"] is not None:
            assert cold["source_bytes"] > before["source_bytes"]


class TestPythonStagesAndDriverJobs:
    """Python worker evaluations and driver-side jobs of the image and PIP
    hot paths: each Python evaluation costs a worker task per partition,
    each driver job a scheduling round trip."""

    @pytest.mark.parametrize("name", [
        "pip_city", "image_spatial_join", "access_flags", "pip_concave_city",
        "cityside_chains", "pip_hierarchy", "knn_city",
    ])
    def test_pip_udf_evaluated_once(self, spark, sf_dir, name):
        """Every PIP query runs the kernel in exactly one ArrowEvalPython.
        pip_resolve without keep_unmatched filters out unmatched points:
        were the null filter pushed below the projection, the executed plan
        would hold two ArrowEvalPython nodes over the same _resolve call."""
        import __spark_entry__ as E
        from osm2mp_spark.metrics import python_eval_counts

        df = E.queries()[name](spark, sf_dir)
        df.collect()
        assert python_eval_counts(df)["ArrowEvalPython"] == 1

    @pytest.mark.parametrize("name", ["access_flags", "pip_concave_city"])
    def test_pip_projection_no_exchange_no_join(self, spark, sf_dir, name):
        """Flags-OR and any-containment are one projection over the points:
        no join back and no aggregation to undo a per-container fan-out."""
        import __spark_entry__ as E

        df = E.queries()[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_n_for_reads_footers_without_a_job(self, spark, sf_dir, tmp_path):
        from osm2mp_spark.queries.images_q import _n_for
        from osm2mp_spark.sources.parquet_footers import parquet_rows

        sc = spark.sparkContext
        sc.setJobGroup("n-for-footers", "n-for-footers")
        try:
            n = _n_for(spark, sf_dir)
        finally:
            sc.setJobGroup("", "")
        assert sc.statusTracker().getJobIdsForGroup("n-for-footers") == []
        assert n == spark.read.parquet(f"{sf_dir}/customer.parquet").count()
        # a partitioned (nested) dir is not footer-summed: Spark counts it
        nested = str(tmp_path / "nested")
        spark.range(10).selectExpr("id", "id % 3 AS p").write.partitionBy(
            "p"
        ).parquet(nested)
        assert parquet_rows(spark, [nested]) == 10

    def test_flagship_dedup_builder_and_plan(self, spark, sf_dir):
        """The builder sizes the corpus from footers (no schema-inference
        or count job) and pulls the pair graph once: its only jobs are the
        two shuffle-map stages of the banded pair join (band equi-join,
        distinct) and the bounded pull. The executed plan reads the
        signature checkpoint, so its one Python evaluation is the spatial
        kernel, and no `bytes` column appears anywhere."""
        import __spark_entry__ as E
        from osm2mp_spark.metrics import python_eval_counts

        # the session's first build also builds the cached BSP tile tree
        E.queries()["flagship_dedup"](spark, sf_dir)
        sc = spark.sparkContext
        st = sc.statusTracker()
        sc.setJobGroup("flagship-dedup-build", "flagship-dedup-build")
        try:
            df = E.queries()["flagship_dedup"](spark, sf_dir)
        finally:
            sc.setJobGroup("", "")
        jobs = st.getJobIdsForGroup("flagship-dedup-build")
        names = [
            st.getStageInfo(s).name
            for j in jobs for s in st.getJobInfo(j).stageIds
            if st.getStageInfo(s) is not None
        ]
        assert len(jobs) == 3, names
        assert not [n for n in names if n.startswith(("parquet at", "count at"))]
        assert sum("chains.py" in n for n in names) == 1  # the bounded pull
        df.collect()
        counts = python_eval_counts(df)
        assert counts["ArrowEvalPython"] == 1
        assert sum(counts.values()) == 1
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bytes" not in plan

    def test_flagship_dedup_keepers_one_aggregate(self, spark, sf_dir):
        """The keepers and their cluster sizes come from one aggregate
        over the labeled signature keys: the executed plan scans the
        signature checkpoint once, joins the labels once (the broadcast
        the driver-built label table carries) and joins nothing back. The
        automatic broadcast is off, as for a corpus too large to
        broadcast, so a cluster-size join back would plan as a
        SortMergeJoin."""
        import __spark_entry__ as E

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = E.queries()["flagship_dedup"](spark, sf_dir)
            df.collect()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        plan = final_plan(df)
        assert node_count(plan, "SortMergeJoin") == 0, plan
        assert node_count(plan, "Scan ExistingRDD") == 1, plan
        assert node_count(plan, "BroadcastHashJoin") == 1, plan

    def test_flagship_image_assign_generates_no_payload(self, spark, sf_dir):
        """The per-image assignment reads only the corpus ids, so its plan
        synthesizes no image bytes: no `bytes` column appears anywhere."""
        import __spark_entry__ as E

        df = E.queries()["flagship_image_assign"](spark, sf_dir)
        assert "bytes" not in plan_of(df)


class TestPipOperatorEdgeRows:
    """pip_resolve and pip_flags_or keep one output row per input row, null
    payload columns included, and a null or non-finite coordinate is
    contained by nothing."""

    def _index(self):
        from osm2mp_spark.spatial.index import Polygon, PolygonIndex

        # the clamped cover of `corner` makes world cell (0, 0) full, and
        # `a` makes the cell at (0°, 0°) full
        return PolygonIndex([
            Polygon("a", [[(-10, -10), (10, -10), (10, 10), (-10, 10), (-10, -10)]]),
            Polygon("b", [[(5, 5), (8, 5), (8, 8), (5, 8), (5, 5)]]),
            Polygon("corner", [[(-185, -95), (-150, -95), (-150, -60),
                                (-185, -60), (-185, -95)]]),
        ])

    def _points(self, spark):
        nan = float("nan")
        return spark.createDataFrame(
            [
                (1, 6.0, 6.0, None),
                (2, 6.0, 6.0, "x"),
                (3, 2.0, 2.0, None),
                (4, 50.0, 50.0, None),
                (5, None, None, "x"),
                (6, nan, nan, "x"),
                (7, -170.0, None, None),
                (8, -170.0, -80.0, "x"),
            ],
            "id int, lon double, lat double, tag string",
        )

    def test_flags_or_keeps_rows_with_null_columns(self, spark):
        from osm2mp_spark.operators.pip_join import pip_flags_or

        out = pip_flags_or(
            self._points(spark), self._index(), {"a": 4, "b": 1, "corner": 16}
        )
        assert out.columns == ["id", "lon", "lat", "tag", "access_mask"]
        got = {r["id"]: r["access_mask"] for r in out.collect()}
        assert got == {1: 5, 2: 5, 3: 4, 4: 0, 5: 0, 6: 0, 7: 0, 8: 16}

    def test_resolve_null_coordinates_unmatched(self, spark):
        from osm2mp_spark.operators.pip_join import pip_resolve

        pts = self._points(spark)
        kept = pip_resolve(pts, self._index(), keep_unmatched=True)
        got = {r["id"]: r["area_id"] for r in kept.collect()}
        assert got == {1: "b", 2: "b", 3: "a", 4: None, 5: None, 6: None,
                       7: None, 8: "corner"}
        inner = pip_resolve(pts, self._index())
        assert sorted(r["id"] for r in inner.collect()) == [1, 2, 3, 8]
