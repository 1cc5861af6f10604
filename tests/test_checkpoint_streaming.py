"""Checkpoint/resume lineage + Structured Streaming ↔ batch equivalence."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


class TestCheckpoint:
    def test_write_then_resume_skips_done(self, spark, tmp_path):
        from osm2mp_spark.streaming.checkpoint import (
            checkpointed_write,
            read_manifest,
            resume_remaining,
        )

        df = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        out = str(tmp_path / "ckpt")
        s1 = checkpointed_write(df, out, "k", n_buckets=8)
        assert s1["written"] == 8 and s1["skipped"] == 0 and s1["rows"] == 1000

        man = read_manifest(spark, out).toPandas()
        assert len(man) == 8
        assert man.rows.sum() == 1000
        assert (man.secs >= 0).all()

        # full rerun: everything skipped (idempotent resume)
        s2 = checkpointed_write(df, out, "k", n_buckets=8)
        assert s2["written"] == 0 and s2["skipped"] == 8

        # simulate mid-run kill: delete 3 manifests → only those remain
        mdir = os.path.join(out, "manifest")
        for fn in sorted(os.listdir(mdir))[:3]:
            os.remove(os.path.join(mdir, fn))
        remaining = resume_remaining(df, out, "k", n_buckets=8)
        s3 = checkpointed_write(remaining, out, "k", n_buckets=8)
        assert s3["written"] == 3

        # data files complete and consistent
        ddir = os.path.join(out, "data")
        total = sum(
            len(pd.read_parquet(os.path.join(ddir, f))) for f in os.listdir(ddir)
        )
        assert total == 1000

    def test_resume_empty_manifest_returns_all(self, spark, tmp_path):
        from osm2mp_spark.streaming.checkpoint import resume_remaining

        df = spark.range(100).select(F.col("id").alias("k"))
        rem = resume_remaining(df, str(tmp_path / "none"), "k")
        assert rem.count() == 100


class TestStreamingEquivalence:
    def test_stream_matches_batch(self, spark, sf_dir, tmp_path):
        import shutil

        from osm2mp_spark.streaming.windows import (
            windowed_counts_batch,
            windowed_counts_stream,
        )

        # readStream sources must be directories
        events_dir = tmp_path / "events_stream"
        events_dir.mkdir()
        shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-0.parquet")
        events_path = f"{sf_dir}/events.parquet"
        batch = (
            windowed_counts_batch(spark.read.parquet(events_path))
            .toPandas()
            .sort_values(["window_start_us", "event_type"])
            .reset_index(drop=True)
        )
        schema = spark.read.parquet(events_path).schema
        stream = windowed_counts_stream(spark, str(events_dir), schema)
        q = (
            stream.writeStream.outputMode("complete")
            .format("memory")
            .queryName("winagg")
            .start()
        )
        try:
            q.processAllAvailable()
            got = (
                spark.sql("SELECT * FROM winagg")
                .toPandas()
                .sort_values(["window_start_us", "event_type"])
                .reset_index(drop=True)
            )
        finally:
            q.stop()
        assert len(got) == len(batch)
        assert (got.window_start_us.to_numpy() == batch.window_start_us.to_numpy()).all()
        assert (got.n.to_numpy() == batch.n.to_numpy()).all()


class TestStatefulSessionize:
    def test_stateful_stream_matches_batch(self, spark, sf_dir, tmp_path):
        import shutil

        from osm2mp_spark.streaming.sessions import sessionize_batch, sessionize_stream

        events_dir = tmp_path / "ev"
        events_dir.mkdir()
        shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-0.parquet")
        batch = (
            sessionize_batch(spark.read.parquet(f"{sf_dir}/events.parquet"))
            .toPandas()
            .sort_values(["user_id", "session_no"])
            .reset_index(drop=True)
        )
        schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        q = (
            sessionize_stream(spark, str(events_dir), schema)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("sess")
            .start()
        )
        try:
            q.processAllAvailable()
            got = (
                spark.sql("SELECT * FROM sess")
                .toPandas()
                .sort_values(["user_id", "session_no"])
                .reset_index(drop=True)
            )
        finally:
            q.stop()
        assert len(got) == len(batch)
        for c in ["user_id", "session_no", "n_events", "start_us", "end_us"]:
            assert (got[c].to_numpy() == batch[c].to_numpy()).all(), c


class TestCheckpointLineage:
    def test_changed_input_rejected(self, spark, tmp_path):
        from osm2mp_spark.streaming.checkpoint import checkpointed_write

        a = str(tmp_path / "in_a")
        b = str(tmp_path / "in_b")
        spark.range(100).selectExpr("id AS k", "id * 2 AS v").write.parquet(a)
        spark.range(100).selectExpr("id AS k", "id * 3 AS v").write.parquet(b)
        out = str(tmp_path / "ckpt")
        checkpointed_write(spark.read.parquet(a), out, "k", n_buckets=4)
        with pytest.raises(ValueError, match="fingerprint"):
            checkpointed_write(spark.read.parquet(b), out, "k", n_buckets=4)

    def test_manifest_records_fingerprint(self, spark, tmp_path):
        from osm2mp_spark.streaming.checkpoint import (
            checkpointed_write,
            input_fingerprint,
            read_manifest,
        )

        src = str(tmp_path / "src")
        spark.range(50).selectExpr("id AS k").write.parquet(src)
        df = spark.read.parquet(src)
        out = str(tmp_path / "ckpt2")
        checkpointed_write(df, out, "k", n_buckets=2)
        man = read_manifest(spark, out).toPandas()
        assert set(man.input_fingerprint) == {input_fingerprint(df)}


class TestStreamingCheckpointRecovery:
    def test_restart_from_checkpoint_is_exactly_once(self, spark, tmp_path):
        """Structured Streaming recovery (north rule: mid-run resume): a
        file-source → file-sink query with a checkpointLocation is stopped,
        MORE input arrives, and a RESTARTED query with the same checkpoint
        processes only the new files — the sink holds each input row
        exactly once."""
        import pandas as pd

        src = tmp_path / "src"
        out = tmp_path / "out"
        ckpt = tmp_path / "ckpt"
        src.mkdir()
        pd.DataFrame({"k": range(0, 100)}).to_parquet(src / "a.parquet")

        def start():
            stream = (
                spark.readStream.schema("k bigint").parquet(str(src))
                .selectExpr("k", "k * 2 AS v")
            )
            return (
                stream.writeStream.format("parquet")
                .option("path", str(out))
                .option("checkpointLocation", str(ckpt))
                .outputMode("append")
                .start()
            )

        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        first = spark.read.parquet(str(out)).count()
        assert first == 100

        # new input lands while the query is DOWN
        pd.DataFrame({"k": range(100, 150)}).to_parquet(src / "b.parquet")
        q2 = start()
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        got = spark.read.parquet(str(out)).toPandas()
        # exactly-once: 150 distinct keys, no row duplicated on restart
        assert len(got) == 150
        assert got.k.nunique() == 150
        assert (got.v == got.k * 2).all()


class TestShippingZip:
    def test_build_zip_nonempty_and_zipimportable(self, tmp_path):
        import subprocess
        import sys
        import zipfile

        from osm2mp_spark.shipping import build_zip

        p = build_zip(str(tmp_path / "pkg.zip"))
        assert len(zipfile.ZipFile(p).namelist()) > 50
        # import from the zip in a clean interpreter (the --py-files shape)
        code = (
            f"import sys; sys.path.insert(0, {p!r}); "
            "import osm2mp_spark.shipping as s; "
            "print(s.build_zip())"
        )
        r = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
            cwd=str(tmp_path),
        )
        assert r.returncode == 0, r.stderr
        # in-zip build_zip must return the CONTAINING archive, never
        # overwrite it with an empty walk of a zip-internal path
        assert r.stdout.strip() == p
        assert len(zipfile.ZipFile(p).namelist()) > 50



class TestLazyZipInvalidation:
    """shipping.install_lazy_zip_invalidation: a zipimporter's
    invalidate_caches re-reads its archive only once it changed on disk."""

    @staticmethod
    def _write_zip(path, members):
        import zipfile

        with zipfile.ZipFile(path, "w") as zf:
            for name, src in members.items():
                zf.writestr(name, src)

    @pytest.fixture
    def lazy(self, monkeypatch):
        """The wrapper installed for one test, then the eager method back;
        `reads` counts archive directory parses."""
        import sys
        import zipimport

        from osm2mp_spark.shipping import install_lazy_zip_invalidation

        if sys.version_info >= (3, 13):
            pytest.skip("CPython >= 3.13 invalidates zip caches lazily")
        monkeypatch.setattr(
            zipimport.zipimporter, "invalidate_caches",
            zipimport.zipimporter.invalidate_caches,
        )
        assert install_lazy_zip_invalidation()
        assert not install_lazy_zip_invalidation()  # installs once
        reads = []
        eager_read = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return eager_read(archive)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        return reads

    def test_unchanged_archive_is_not_reread(self, lazy, tmp_path):
        import zipimport

        z = str(tmp_path / "lib.zip")
        self._write_zip(z, {"pkg/__init__.py": "", "pkg/a.py": "X = 1\n"})
        top = zipimport.zipimporter(z)
        sub = zipimport.zipimporter(z + "/pkg")
        lazy.clear()
        top.invalidate_caches()  # no stamp yet: the one eager read
        assert lazy == [z]
        for _ in range(3):
            top.invalidate_caches()
            sub.invalidate_caches()
        assert lazy == [z]
        assert sub.find_spec("a") is not None

    def test_rewritten_archive_is_reread(self, lazy, tmp_path, monkeypatch):
        import importlib
        import sys
        import zipimport

        z = str(tmp_path / "lib.zip")
        self._write_zip(z, {"lzi_old.py": "X = 1\n"})
        monkeypatch.syspath_prepend(z)
        importlib.invalidate_caches()
        assert importlib.import_module("lzi_old").X == 1
        importlib.invalidate_caches()  # the importer's first, stamped read
        lazy.clear()
        importlib.invalidate_caches()
        assert lazy == []
        # rewritten in place with a new member: new size, new mtime
        self._write_zip(z, {"lzi_old.py": "X = 1\n", "lzi_new.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert lazy == [z]
        try:
            assert importlib.import_module("lzi_new").Y == 2
        finally:
            sys.modules.pop("lzi_old", None)
            sys.modules.pop("lzi_new", None)
        # a vanished archive takes the eager path, which empties the listing
        os.remove(z)
        importer = zipimport.zipimporter.__new__(zipimport.zipimporter)
        importer.archive = z
        importer.invalidate_caches()
        assert lazy == [z, z]
        assert importer._files == {}
        assert z not in zipimport._zip_directory_cache

    def test_nothing_installed_from_cpython_3_13(self, monkeypatch):
        import sys
        import zipimport

        from osm2mp_spark.shipping import install_lazy_zip_invalidation

        eager = zipimport.zipimporter.invalidate_caches
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", eager)
        monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
        assert not install_lazy_zip_invalidation()
        assert zipimport.zipimporter.invalidate_caches is eager

    def test_reused_worker_skips_rereading_archives(self, spark):
        """After one engine mapInPandas task, a later task on the same
        (reused) worker runs with the lazy invalidate_caches, and
        importlib.invalidate_caches() there parses no archive."""
        import sys

        def probe(it):
            import importlib
            import os
            import zipimport

            import osm2mp_spark  # noqa: F401  (what an engine closure does)

            reads = []
            eager_read = zipimport._read_directory

            def counted(archive):
                reads.append(archive)
                return eager_read(archive)

            zipimport._read_directory = counted
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = eager_read
            lazy = getattr(zipimport.zipimporter.invalidate_caches,
                           "_lazy", False)
            for _ in it:
                pass
            yield pd.DataFrame(
                {"pid": [os.getpid()], "lazy": [lazy], "reads": [len(reads)]}
            )

        seen = {}
        for _ in range(12):
            (row,) = spark.range(1, numPartitions=1).mapInPandas(
                probe, "pid long, lazy boolean, reads int"
            ).collect()
            if row.pid in seen:
                break
            seen[row.pid] = row
        else:
            pytest.fail(f"no worker ran two tasks: {sorted(seen)}")
        assert row.lazy == (sys.version_info < (3, 13))
        assert row.reads == 0


class TestStreamingDedup:
    def test_stream_dedup_matches_batch_hash_set(self, spark, sf_dir, tmp_path):
        import shutil

        from pyspark.sql import functions as F

        from osm2mp_spark.streaming.sessions import dedup_stream

        docs_dir = tmp_path / "docs"
        docs_dir.mkdir()
        shutil.copy(f"{sf_dir}/documents.parquet", docs_dir / "a.parquet")
        batch_hashes = {
            r.h for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select(F.md5(F.col("text").cast("binary")).alias("h"))
            .distinct().collect()
        }
        schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        q = (
            dedup_stream(spark, str(docs_dir), schema)
            .writeStream.format("memory").queryName("dedupstream")
            .outputMode("append").start()
        )
        try:
            q.processAllAvailable()
            got = {
                r.text_hash
                for r in spark.sql("SELECT text_hash FROM dedupstream").collect()
            }
        finally:
            q.stop()
        assert got == batch_hashes


def _protobuf_available() -> bool:
    # transformWithState's state protocol needs a working protobuf install;
    # this sandbox ships a broken google.protobuf (no descriptor module)
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


class TestTransformWithState:
    @pytest.mark.skipif(
        not _protobuf_available(),
        reason="transformWithStateInPandas requires google.protobuf "
        "(absent in this sandbox); the twin is import-try gated",
    )
    def test_tws_sessionize_matches_batch(self, spark, sf_dir, tmp_path):
        """Spark 4 transformWithStateInPandas twin reproduces the batch
        gaps-and-islands sessionization exactly."""
        import shutil

        from osm2mp_spark.streaming.sessions import (
            sessionize_batch,
            sessionize_stream_tws,
        )

        events_dir = tmp_path / "ev_tws"
        events_dir.mkdir()
        shutil.copy(f"{sf_dir}/events.parquet", events_dir / "a.parquet")
        batch = (
            sessionize_batch(spark.read.parquet(f"{sf_dir}/events.parquet"))
            .toPandas().sort_values(["user_id", "session_no"])
            .reset_index(drop=True)
        )
        schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        # transformWithState requires the RocksDB state store; restore the
        # previous provider afterwards so later streaming tests in the
        # shared session keep exercising the default store
        provider_key = "spark.sql.streaming.stateStore.providerClass"
        prev_provider = spark.conf.get(provider_key, None)
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        q = (
            sessionize_stream_tws(spark, str(events_dir), schema)
            .writeStream.format("memory").queryName("twssess")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = (
                spark.sql("SELECT * FROM twssess").toPandas()
                .sort_values(["user_id", "session_no"]).reset_index(drop=True)
            )
        finally:
            q.stop()
            if prev_provider is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, prev_provider)
        assert len(got) == len(batch)
        for col in ("user_id", "session_no", "n_events", "start_us", "end_us"):
            assert (got[col].to_numpy() == batch[col].to_numpy()).all(), col


class TestWatermarkLateData:
    def test_late_rows_dropped_in_append_mode(self, spark, tmp_path):
        """The watermark actually DROPS late rows: a row older than
        (max event time - 10 min) arriving in a later micro-batch must not
        change its (already-finalized) window. Append mode emits a window
        only once the watermark passes its end, so a wrongly-admitted late
        row would show up as n=3 instead of n=2."""
        import pandas as pd

        from osm2mp_spark.streaming.windows import windowed_counts_stream

        events_dir = tmp_path / "events"
        events_dir.mkdir()

        def write_batch(name, rows):
            pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
            pdf["ts"] = pd.to_datetime(pdf["ts"])
            spark.createDataFrame(pdf).coalesce(1).write.mode(
                "append"
            ).parquet(str(events_dir))

        # batch 1: two rows in window [10:00, 10:05) + a row at 10:20 that
        # advances the watermark to 10:10 (> window end) after this batch
        write_batch("a", [
            ("2026-01-01 10:00:30", "click", 1),
            ("2026-01-01 10:01:00", "click", 2),
            ("2026-01-01 10:20:00", "click", 4),
        ])
        schema = spark.read.parquet(str(events_dir)).schema
        stream = windowed_counts_stream(spark, str(events_dir), schema)
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName("late_demo")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            # batch 2: a LATE row for the closed window (10:02 < watermark
            # 10:10) plus an on-time row keeping the stream alive
            write_batch("b", [
                ("2026-01-01 10:02:00", "click", 8),
                ("2026-01-01 10:21:00", "click", 16),
            ])
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql(
            "SELECT * FROM late_demo ORDER BY window_start_us"
        ).toPandas()
        # the 10:00 window was emitted with exactly the two on-time rows;
        # the late value-8 row is dropped (n=2, total 3 — not n=3/total 11)
        w1 = got[got.total_value <= 3]
        assert len(w1) == 1
        assert int(w1.n.iloc[0]) == 2 and int(w1.total_value.iloc[0]) == 3
        assert not (got.total_value == 11).any()


class TestImageIngestStream:
    def _write_corpus(self, spark, events_dir, lo, hi):
        import pandas as pd

        from osm2mp_spark.sources.images import phash_corpus_row

        pdf = pd.DataFrame([phash_corpus_row(i, dup=False) for i in range(lo, hi)])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            str(events_dir)
        )

    def test_incremental_exactly_once_across_restart(self, spark, tmp_path):
        """Image files land incrementally; the streaming dHash path must
        (a) process each file exactly once, (b) produce the SAME hashes as
        the batch kernel, and (c) not reprocess batch-1 files after a stop
        + restart from the checkpoint."""
        from osm2mp_spark.operators.images import dhash_images
        from osm2mp_spark.streaming.ingest import image_dhash_stream

        imgs = tmp_path / "imgs"
        imgs.mkdir()
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")
        self._write_corpus(spark, imgs, 0, 6)
        schema = spark.read.parquet(str(imgs)).schema

        def start():
            return (
                image_dhash_stream(spark, str(imgs), schema)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .start()
            )

        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got1 = spark.read.parquet(out).toPandas()
        assert len(got1) == 6

        # restart from checkpoint, land a second batch
        self._write_corpus(spark, imgs, 6, 10)
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got2 = spark.read.parquet(out).toPandas()
        # exactly once: 10 rows total, no duplicated image_ids
        assert len(got2) == 10
        assert got2.image_id.nunique() == 10

        # streaming output == batch kernel over the same files
        batch = dhash_images(spark.read.parquet(str(imgs))).toPandas()
        a = got2.sort_values("image_id").reset_index(drop=True)
        b = batch.sort_values("image_id").reset_index(drop=True)
        assert (a.image_id == b.image_id).all()
        assert (a.dhash == b.dhash).all()


class TestLocalClusterExecutors:
    """Multi-process execution: the same queries on a local-cluster master
    (SEPARATE executor JVMs, each spawning its own Python workers fed by
    the shipped package) must return bit-identical results to local mode —
    the single-box proof that the Arrow-UDF path survives real executor
    boundaries, complementing the spark-submit --py-files test."""

    def test_arrow_udf_queries_match_local(self, spark, sf_dir):
        import subprocess
        import sys as _sys

        import __spark_entry__ as entry

        qs = entry.queries()
        want = {
            name: sorted(
                tuple(r) for r in qs[name](spark, sf_dir).collect()
            )
            for name in ("pip_city", "image_dedup_wide")
        }
        import os as _os

        repo = _os.path.dirname(_os.path.abspath(entry.__file__))
        # the cluster session must live in its own process: two masters
        # can't share one JVM/gateway
        code = f"""
import sys
sys.path.insert(0, {repr(repo)})
import json
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local-cluster[2,2,1536]")
         .appName("udf-cluster-parity")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from osm2mp_spark.shipping import ensure_shipped
ensure_shipped(spark)
import __spark_entry__ as entry
qs = entry.queries()
out = {{}}
for name in ("pip_city", "image_dedup_wide"):
    out[name] = sorted([list(r) for r in qs[name](spark, {repr(sf_dir)}).collect()])
print("RESULT:" + json.dumps(out))
spark.stop()
"""
        r = subprocess.run(
            [_sys.executable, "-c", code], capture_output=True, text=True,
            timeout=280,
        )
        assert r.returncode == 0, r.stderr[-1500:]
        import json as _json

        line = next(
            l for l in r.stdout.splitlines() if l.startswith("RESULT:")
        )
        got = _json.loads(line[len("RESULT:"):])
        for name in want:
            assert [list(t) for t in want[name]] == got[name], name


class TestSparkSubmitDeployment:
    def test_py_files_submit_and_resume(self, tmp_path):
        """The north rule's literal deployment shape: `spark-submit
        --py-files osm2mp_spark.zip tools/run_job.py`, run from a cwd where
        the repo is NOT importable (only --py-files can satisfy the
        imports). First run writes all bucket manifests; a second run
        resumes and rewrites none."""
        import json
        import os
        import shutil
        import subprocess

        submit = shutil.which("spark-submit")
        if submit is None:
            import pytest

            pytest.skip("spark-submit not on PATH")
        from osm2mp_spark.shipping import build_zip

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        zip_path = build_zip(str(tmp_path / "osm2mp_spark.zip"))
        out = str(tmp_path / "out")
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["SPARK_SUBMIT_OPTS"] = "-Dlog4j2.level=error"
        cmd = [
            submit, "--master", "local[4]", "--py-files", zip_path,
            os.path.join(repo, "tools", "run_job.py"),
            "--sf-dir", "/root/testdata/sf0.001", "--out", out,
            "--buckets", "4",
        ]
        r = subprocess.run(
            cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True,
            timeout=420,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
        stats = json.loads(line)
        assert stats["written"] == 4 and stats["skipped"] == 0

        manifest = os.path.join(out, "manifest")
        mtimes = {
            f: os.path.getmtime(os.path.join(manifest, f))
            for f in os.listdir(manifest)
            if f[:5].isdigit()  # bucket records (the dir also holds meta)
        }
        assert len(mtimes) == 4

        r2 = subprocess.run(
            cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True,
            timeout=420,
        )
        assert r2.returncode == 0, r2.stderr[-2000:]
        line2 = [l for l in r2.stdout.splitlines() if l.startswith("{")][-1]
        stats2 = json.loads(line2)
        assert stats2["skipped"] == 4 and stats2["written"] == 0
        for f, m in mtimes.items():
            assert os.path.getmtime(os.path.join(manifest, f)) == m


class TestIncrementalDedupStream:
    """Streaming ingest → incremental dedup composition (streaming.dedup):
    pair union across micro-batches == one-shot batch join, surviving a
    stop + restart from checkpoint without duplicate or lost pairs."""

    def _land(self, spark, d, lo, hi):
        import pandas as pd

        from osm2mp_spark.sources.images import phash_corpus_row

        rows = []
        for i in range(lo, hi):
            rows.append(phash_corpus_row(i, dup=False))
            if i % 7 == 0:
                rows.append(phash_corpus_row(i, dup=True))
        spark.createDataFrame(pd.DataFrame(rows)).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))

    def test_restart_union_matches_batch_join(self, spark, tmp_path):
        from osm2mp_spark.operators.images import (
            dhash_wide_images,
            wide_hamming_pairs,
        )
        from osm2mp_spark.streaming.dedup import (
            read_pairs,
            start_incremental_dedup,
        )

        land = tmp_path / "landing"
        land.mkdir()
        store, pairs, ckpt = (
            str(tmp_path / "store"), str(tmp_path / "pairs"),
            str(tmp_path / "ckpt"),
        )
        # dups are planted ACROSS landing files: originals 0..14 in files
        # 1-2, their dup rows ride along, and file 3 adds 14..21 — so some
        # pairs resolve same-batch, the cross-file ones via the store
        self._land(spark, land, 0, 7)
        self._land(spark, land, 7, 14)
        schema = spark.read.parquet(str(land)).schema

        def run():
            q = start_incremental_dedup(
                spark, str(land), schema, store, pairs, ckpt,
                max_hamming=7, max_files_per_trigger=1,
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()

        run()
        n_first = len(read_pairs(spark, pairs).toPandas())
        assert n_first == 2  # originals 0 and 7 have planted dups

        # land a third file AFTER the stream finished; restart from ckpt
        self._land(spark, land, 14, 21)
        run()
        got = read_pairs(spark, pairs).toPandas()
        batch = wide_hamming_pairs(
            dhash_wide_images(spark.read.parquet(str(land))), max_hamming=7
        ).toPandas()
        a = got.sort_values(["id_a", "id_b"]).reset_index(drop=True)
        b = batch.sort_values(["id_a", "id_b"]).reset_index(drop=True)
        assert len(a) == len(b) == 3
        assert (a.id_a == b.id_a).all() and (a.id_b == b.id_b).all()
        assert (a.hamming == b.hamming).all()
        # no duplicate pair rows across batch dirs (exactly-once layout)
        assert not got.duplicated(["id_a", "id_b"]).any()

        # per-batch lineage/metrics ledger: one row per processed batch,
        # image counts reconcile with the landed corpus, pair counts with
        # the emitted pairs, and throughput is recorded
        from osm2mp_spark.streaming.dedup import read_batch_metrics

        m = read_batch_metrics(spark, store).toPandas()
        assert m.batch_id.nunique() == len(m) == 3
        assert int(m.n_images.sum()) == 24  # 21 originals + 3 planted dups
        assert int(m.n_pairs.sum()) == len(got)
        assert (m.secs > 0).all() and (m.images_per_sec > 0).all()

    def test_compaction_between_runs_preserves_pairs(self, spark, tmp_path):
        """compact_store merges the signature store into one dir between
        stream runs; the restarted stream joins new batches against the
        compacted prefix and the final pair union still equals the one-shot
        batch join (no lost, no duplicated pairs)."""
        import os

        from osm2mp_spark.operators.images import (
            dhash_wide_images,
            wide_hamming_pairs,
        )
        from osm2mp_spark.streaming.dedup import (
            compact_store,
            read_pairs,
            start_incremental_dedup,
        )
        from osm2mp_spark.streaming.store import _live

        land = tmp_path / "landing"
        land.mkdir()
        store, pairs, ckpt = (
            str(tmp_path / "store"), str(tmp_path / "pairs"),
            str(tmp_path / "ckpt"),
        )
        self._land(spark, land, 0, 7)
        self._land(spark, land, 7, 14)
        schema = spark.read.parquet(str(land)).schema

        def run():
            q = start_incremental_dedup(
                spark, str(land), schema, store, pairs, ckpt,
                max_hamming=7, max_files_per_trigger=1,
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()

        run()
        horizon = compact_store(spark, store)
        assert horizon == 2  # batches 0 and 1 merged
        # store now reads ONE compacted dir (no batch tail yet)
        comp, tail = _live(spark, store, below=2)
        dirs = [comp, *tail]
        assert len(dirs) == 1 and dirs[0].endswith("compacted=2")
        # a second compaction with no new batches is a no-op at horizon 2
        assert compact_store(spark, store) == 2

        self._land(spark, land, 14, 21)   # cross-file dup vs batch 0-1 era
        run()
        got = read_pairs(spark, pairs).toPandas()
        batch = wide_hamming_pairs(
            dhash_wide_images(spark.read.parquet(str(land))), max_hamming=7
        ).toPandas()
        a = got.sort_values(["id_a", "id_b"]).reset_index(drop=True)
        b = batch.sort_values(["id_a", "id_b"]).reset_index(drop=True)
        assert len(a) == len(b) == 3
        assert (a.id_a == b.id_a).all() and (a.id_b == b.id_b).all()
        assert not got.duplicated(["id_a", "id_b"]).any()
        # post-restart store = compacted prefix + the new batch dir
        comp, tail = _live(spark, store)
        dirs = [comp, *tail]
        assert any(d.endswith("compacted=2") for d in dirs)
        assert sum(os.path.basename(d).startswith("batch=") for d in dirs) == 1

    def test_compaction_skips_uncertified_batches(self, spark, tmp_path):
        """A crash can leave store/batch=b written with no metrics row
        (metrics is written LAST). compact_store must leave such a batch
        out of the merge so the checkpoint replay of batch b finds the
        store exactly as the original run did."""
        import os
        import shutil

        from osm2mp_spark.streaming.dedup import (
            compact_store,
            read_pairs,
            start_incremental_dedup,
        )
        from osm2mp_spark.streaming.store import _live

        land = tmp_path / "landing"
        land.mkdir()
        store, pairs, ckpt = (
            str(tmp_path / "store"), str(tmp_path / "pairs"),
            str(tmp_path / "ckpt"),
        )
        self._land(spark, land, 0, 7)
        self._land(spark, land, 7, 14)
        schema = spark.read.parquet(str(land)).schema
        q = start_incremental_dedup(
            spark, str(land), schema, store, pairs, ckpt,
            max_hamming=7, max_files_per_trigger=1,
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        # simulate the crash window: batch 1's metrics row never landed
        shutil.rmtree(os.path.join(store, "metrics", "batch=000000001"))
        horizon = compact_store(spark, store)
        assert horizon == 1  # only certified batch 0 merged
        comp, tail = _live(spark, store)
        dirs = [comp, *tail]
        assert any(d.endswith("compacted=1") for d in dirs)
        # batch 1's signature dir survives for the replay
        assert any(d.endswith("batch=000000001") for d in dirs)
        assert not any(d.endswith("batch=000000000") for d in dirs)
        # store contents unchanged as a whole (uniform signature view over
        # the banded compacted prefix + raw batch tail)
        from osm2mp_spark.streaming.dedup import read_store_signatures

        n = read_store_signatures(spark, store).count()
        assert n == 16  # 14 originals + 2 planted dups
        assert read_pairs(spark, pairs).count() == 2

    def test_union_invariant_over_arbitrary_batch_splits(self, spark):
        """The incremental math itself (the canonical-rule banded join over
        a growing store), independent of streaming machinery: for ANY
        partition of a corpus into ordered batches, the union of per-batch
        emissions equals the one-shot batch join — no batch boundary
        placement can lose or duplicate a pair."""
        from osm2mp_spark.operators.hamming import hamming_pairs
        from osm2mp_spark.operators.images import (
            WIDE_WORDS,
            dhash_wide_images,
            wide_hamming_pairs,
        )
        from osm2mp_spark.sources.images import generate_phash_corpus_df

        sigs = dhash_wide_images(
            generate_phash_corpus_df(spark, 21, dup_every=7)
        ).localCheckpoint(eager=False)
        rows = sorted(sigs.collect(), key=lambda r: r.image_id)
        expected = {
            (r.id_a, r.id_b, r.hamming)
            for r in wide_hamming_pairs(sigs, max_hamming=7).collect()
        }
        schema = "image_id string, h0 long, h1 long, h2 long, h3 long"
        # two very different splits: singleton batches; lopsided 1/22/1
        for cuts in ([1] * len(rows), [1, len(rows) - 2, 1]):
            got, store = set(), []
            i = 0
            for c in cuts:
                batch = rows[i:i + c]
                i += c
                new = spark.createDataFrame(batch, schema)
                allv = spark.createDataFrame(store + batch, schema)
                got |= {
                    (r.id_a, r.id_b, r.hamming)
                    for r in hamming_pairs(
                        new, allv, id_col="image_id", words=WIDE_WORDS,
                        bits=256, max_hamming=7, rule="canonical",
                    ).collect()
                }
                store += batch
            assert got == expected, f"split {cuts[:3]}... diverged"

    def test_uri_store_paths_via_hadoop_fs(self, spark, tmp_path):
        """Every store root given as a file:// URI exercises the Hadoop-FS
        listing/delete/rename lane (the same code path an hdfs:// or s3a://
        store takes on a cluster) end-to-end for the whole family —
        signatures, pairs, ANN state, cluster labels and the rollup — with
        every store compacted mid-stream and again after it."""
        from osm2mp_spark.operators.images import (
            dhash_wide_images,
            wide_hamming_pairs,
        )
        from osm2mp_spark.queries.images_q import _img_key
        from osm2mp_spark.streaming.ann import compact_topk_state
        from osm2mp_spark.streaming.clusters import compact_labels, read_labels
        from osm2mp_spark.streaming.dedup import (
            compact_pairs,
            compact_store,
            read_pairs,
            start_incremental_dedup,
        )
        from osm2mp_spark.streaming.flagship import compact_rollup
        from osm2mp_spark.streaming.store import _live

        land = tmp_path / "landing"
        land.mkdir()
        self._land(spark, land, 0, 7)
        self._land(spark, land, 7, 14)
        schema = spark.read.parquet(str(land)).schema
        base = f"file://{tmp_path}"
        store = f"{base}/store"
        pairs = f"{base}/pairs"
        ckpt = f"{base}/ckpt"
        state, clusters, rollup = (
            f"{base}/state", f"{base}/clusters", f"{base}/rollup"
        )

        def compact_all():
            horizon = compact_store(spark, store)
            compact_pairs(spark, pairs, store)
            compact_topk_state(spark, state, store)
            compact_labels(spark, clusters, store)
            compact_rollup(spark, rollup, store)
            return horizon

        q = start_incremental_dedup(
            spark, str(land), schema, store, pairs, ckpt,
            max_hamming=7, max_files_per_trigger=1,
            on_batch_complete=lambda b: compact_all() if b == 0 else None,
            ann_state_path=state, ann_query_pred=TestIncrementalANN.PRED,
            clusters_root=clusters,
            cluster_key_exprs=(_img_key("id_a"), _img_key("id_b")),
            rollup_root=rollup, rollup_key_expr=_img_key("image_id"),
            rollup_assign=TestIncrementalFlagshipRollup._assign,
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        got = read_pairs(spark, pairs).toPandas()
        sigs = dhash_wide_images(spark.read.parquet(str(land)))
        batch = wide_hamming_pairs(sigs, max_hamming=7).toPandas()
        assert len(got) == len(batch) == 2
        horizon = compact_all()
        assert horizon >= 1
        comp, tail = _live(spark, store)
        dirs = [comp, *tail]
        assert dirs and dirs[0].startswith("file://")
        from osm2mp_spark.streaming.dedup import read_store_signatures

        n = read_store_signatures(spark, store).count()
        assert n == 16
        # the family's stores: all compacted through both batches, each
        # equal to its one-shot form
        for sub in (
            f"{pairs}", f"{state}", f"{clusters}/labels",
            f"{rollup}/deltas", f"{rollup}/sizes",
        ):
            assert _live(spark, sub) == (f"{sub}/compacted=2", [])
        TestIncrementalANN()._check(spark, land, base)
        arrived = [
            r.k for r in sigs.selectExpr(f"{_img_key('image_id')} AS k")
            .collect()
        ]
        edges = [
            (r.ka, r.kb) for r in wide_hamming_pairs(sigs, max_hamming=7)
            .selectExpr(f"{_img_key('id_a')} AS ka",
                        f"{_img_key('id_b')} AS kb").collect()
        ]
        assert {
            int(r.vertex): int(r.label)
            for r in read_labels(spark, clusters).collect()
        } == TestIncrementalClusters()._batch_uf(edges)
        assert TestIncrementalFlagshipRollup._read(spark, rollup) == (
            TestIncrementalFlagshipRollup._truth(arrived, edges)
        )

    def test_ledger_counts_exact_across_compaction(self, spark, tmp_path):
        """Every metrics field against an explicit Spark count, on the shape
        where a store-side row-count Observation breaks: the first batch
        has no near-duplicates (empty pair join), the store is compacted
        after it, and a later batch again yields zero pairs while joining
        a compacted prefix plus an uncompacted tail. store_rows_scanned
        must be 8 × tail signature rows + the compacted rows sharing a band
        key with the batch."""
        import time

        from osm2mp_spark.sources.images import phash_corpus_row
        from osm2mp_spark.streaming.dedup import (
            banded_signatures,
            compact_store,
            read_batch_metrics,
            start_incremental_dedup,
        )

        land = tmp_path / "landing"
        land.mkdir()
        # batch 0: originals only; batch 1: the dup of batch 0's image 0
        # (a pair through the compacted prefix) plus a same-batch pair;
        # batch 2: originals only, joined against prefix + batch-1 tail
        for rows in (
            [phash_corpus_row(i, dup=False) for i in range(6)],
            [phash_corpus_row(0, dup=True), phash_corpus_row(7, dup=False),
             phash_corpus_row(7, dup=True), phash_corpus_row(8, dup=False)],
            [phash_corpus_row(i, dup=False) for i in range(15, 20)],
        ):
            spark.createDataFrame(pd.DataFrame(rows)).coalesce(1).write.mode(
                "append"
            ).parquet(str(land))
            time.sleep(1.05)  # distinct mtimes pin the batch order
        schema = spark.read.parquet(str(land)).schema
        store, pairs = str(tmp_path / "store"), str(tmp_path / "pairs")

        def hook(batch_id):
            if batch_id == 0:
                assert compact_store(spark, store) == 1

        q = start_incremental_dedup(
            spark, str(land), schema, store, pairs, str(tmp_path / "ckpt"),
            max_hamming=7, max_files_per_trigger=1, on_batch_complete=hook,
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

        m = read_batch_metrics(spark, store).toPandas()
        m = m.sort_values("batch_id").reset_index(drop=True)
        assert list(m.batch_id) == [0, 1, 2]
        assert list(m.n_pairs) == [0, 2, 0]
        assert list(m.n_images) == [6, 4, 5]
        comp = spark.read.parquet(f"{store}/compacted=1")

        def sigs(b):
            return spark.read.parquet(f"{store}/batch={b:09d}")

        for b in (1, 2):
            assert m.n_images[b] == sigs(b).count()
            assert m.n_pairs[b] == spark.read.parquet(
                f"{pairs}/batch={b:09d}"
            ).count()
            keys = [
                r[0] for r in
                banded_signatures(sigs(b)).select("bandkey").distinct()
                .collect()
            ]
            tail = sum(8 * sigs(t).count() for t in range(1, b))
            pruned = comp.filter(F.col("bandkey").isin(keys)).count()
            assert m.store_rows_scanned[b] == tail + pruned
        assert m.store_rows_scanned[0] == 0
        # both parts are exercised: batch 1 scans the prefix rows of image
        # 0's colliding bands, batch 2 the 4-image tail
        assert m.store_rows_scanned[1] > 0
        assert m.store_rows_scanned[2] >= 8 * 4

    def test_metrics_rows_mix_across_writers(self, spark, tmp_path):
        """Metrics dirs written by the old createDataFrame path and by the
        Arrow-built local_frame row share one parquet schema (names and
        types of BATCH_METRICS_SCHEMA), so a store holding both reads back
        the same rows through read_batch_metrics and through compact_store's
        metrics/compacted=<N> roll-up."""
        import glob

        import pyarrow.parquet as pq

        from osm2mp_spark.operators.images import DHASH_WIDE_SCHEMA
        from osm2mp_spark.streaming.dedup import (
            BATCH_METRICS_SCHEMA,
            compact_store,
            read_batch_metrics,
        )
        from osm2mp_spark.streaming.store import local_frame

        store = str(tmp_path / "store")
        rows = [
            (b, 40 + b, b % 3, 1.5 + b, (40 + b) / (1.5 + b), 8 * b,
             (1 << 33) + b)
            for b in range(4)
        ]
        for b, row in enumerate(rows):
            spark.createDataFrame(
                [(f"img{b}", b, b + 1, b + 2, b + 3)], DHASH_WIDE_SCHEMA
            ).write.mode("overwrite").parquet(f"{store}/batch={b:09d}")
            mdir = f"{store}/metrics/batch={b:09d}"
            if b < 2:   # the old writer
                spark.createDataFrame([row], BATCH_METRICS_SCHEMA).coalesce(
                    1
                ).write.mode("overwrite").parquet(mdir)
            else:
                local_frame(spark, [row], BATCH_METRICS_SCHEMA).write.mode(
                    "overwrite"
                ).parquet(mdir)

        def arrow_cols(b):
            (f,) = glob.glob(f"{store}/metrics/batch={b:09d}/*.parquet")
            return [(c.name, str(c.type)) for c in pq.read_schema(f)]

        want = [
            (c, {"long": "int64", "double": "double"}[t])
            for c, t in (f.split() for f in BATCH_METRICS_SCHEMA.split(", "))
        ]
        assert arrow_cols(0) == arrow_cols(3) == want

        def read():
            df = read_batch_metrics(spark, store)
            assert df.schema.simpleString() == (
                spark.createDataFrame([], BATCH_METRICS_SCHEMA)
                .schema.simpleString()
            )
            return sorted(map(tuple, df.collect()))

        assert read() == rows
        assert compact_store(spark, store) == 4
        assert glob.glob(f"{store}/metrics/compacted=4/*.parquet")
        assert not glob.glob(f"{store}/metrics/batch=*")
        assert read() == rows

    def test_failed_recommit_keeps_compacted_dir(
        self, spark, tmp_path, monkeypatch
    ):
        """A lenient re-compaction at an UNCHANGED horizon whose final
        rename fails must leave the previous compacted dir in place (it is
        the store's only compacted state); a strict one must restore it
        before raising."""
        import os

        from osm2mp_spark.streaming import store

        root = str(tmp_path / "metrics")
        old = f"{root}/compacted=2"
        spark.range(3).write.parquet(old)
        real = store._rename

        def failing(spark, src, dst):
            if src.endswith(".tmp"):
                raise IOError(f"injected rename failure: {src} -> {dst}")
            real(spark, src, dst)

        monkeypatch.setattr(store, "_rename", failing)

        def write(tmp):
            spark.range(5).write.parquet(tmp)

        assert store._commit_compacted(
            spark, root, 2, write, sources=[], old_comp=old, strict=False,
        ) is False
        assert store._compacted_dir(spark, root) == (old, 2)
        assert spark.read.parquet(old).count() == 3
        with pytest.raises(IOError, match="injected"):
            store._commit_compacted(
                spark, root, 2, write, sources=[], old_comp=old
            )
        assert store._compacted_dir(spark, root) == (old, 2)
        assert spark.read.parquet(old).count() == 3
        assert sorted(os.listdir(root)) == [
            "compacted=2", "compacted=2.tmp",
        ]
        # with the rename working again the recommit replaces the content
        monkeypatch.setattr(store, "_rename", real)
        assert store._commit_compacted(
            spark, root, 2, write, sources=[], old_comp=old, strict=False,
        ) is True
        assert spark.read.parquet(old).count() == 5
        assert sorted(os.listdir(root)) == ["compacted=2"]


class TestBandedStorePruning:
    """The r4 verdict's weak item: per-batch store reads must be O(batch),
    not O(store). The compacted store is banded + range-sorted by bandkey
    so pruned_store_scan's pushed In filters skip non-matching row groups."""

    def _sigs(self, spark, n, dup_every=7):
        from osm2mp_spark.operators.images import dhash_wide_images
        from osm2mp_spark.sources.images import generate_phash_corpus_df

        return dhash_wide_images(
            generate_phash_corpus_df(spark, n, dup_every=dup_every)
        )

    def _compacted(self, spark, tmp_path, n=40):
        """Build a store of one certified batch and compact it with tiny
        row groups; returns (store, sigs_df)."""
        import pandas as pd

        from osm2mp_spark.streaming.dedup import compact_store

        store = str(tmp_path / "store")
        sigs = self._sigs(spark, n)
        sigs.write.mode("overwrite").parquet(store + "/batch=000000000")
        spark.createDataFrame(
            pd.DataFrame([{
                "batch_id": 0, "n_images": n, "n_pairs": 0, "secs": 1.0,
                "images_per_sec": float(n), "store_rows_scanned": 0,
                "read_bytes": 0,
            }])
        ).coalesce(1).write.mode("overwrite").parquet(
            store + "/metrics/batch=000000000"
        )
        assert compact_store(
            spark, store, block_bytes=64 << 10, num_files=4
        ) == 1
        return store, sigs

    def test_compacted_layout_sorted_and_pruned(self, spark, tmp_path):
        import glob

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from osm2mp_spark.streaming.dedup import (
            banded_signatures,
            pruned_store_scan,
        )

        store, sigs = self._compacted(spark, tmp_path, n=40)
        comp = store + "/compacted=1"
        # (a) every file's row groups cover non-overlapping ascending
        # bandkey ranges — the physical property row-group pruning needs
        for f in glob.glob(comp + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            prev_max = None
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(0).statistics
                assert st.min <= st.max
                if prev_max is not None:
                    assert st.min >= prev_max
                prev_max = st.max
        # (b) a pruned scan over a key subset returns exactly the rows a
        # full-scan filter would
        allb = banded_signatures(sigs)
        keys = [r[0] for r in allb.select("bandkey").distinct().limit(37).collect()]
        got = pruned_store_scan(spark, comp, keys)
        exp = (
            spark.read.parquet(comp)
            .filter(F.col("bandkey").isin(keys))
        )
        g = sorted(map(tuple, got.collect()))
        e = sorted(map(tuple, exp.collect()))
        assert g == e and len(g) > 0
        # (c) the In filter is actually PUSHED to the parquet scan
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [In(bandkey" in plan

    def test_pruned_scan_chunks_and_fallback(self, spark, tmp_path):
        from osm2mp_spark.streaming.dedup import (
            banded_signatures,
            pruned_store_scan,
        )

        store, sigs = self._compacted(spark, tmp_path, n=120)
        comp = store + "/compacted=1"
        allb = banded_signatures(sigs)
        keys = [r[0] for r in allb.select("bandkey").distinct().collect()]
        assert len(keys) > 512  # forces >1 In chunk
        got = pruned_store_scan(spark, comp, keys).count()
        assert got == spark.read.parquet(comp).count()  # all keys → all rows
        # fallback: key set over the configured ceiling → one full scan
        spark.conf.set("spark.osm2mp.store.maxPushdownKeys", "10")
        try:
            df = pruned_store_scan(spark, comp, keys)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "In(bandkey" not in plan
            assert df.count() == spark.read.parquet(comp).count()
        finally:
            spark.conf.unset("spark.osm2mp.store.maxPushdownKeys")
        # empty key set → empty scan, no job blowup
        assert pruned_store_scan(spark, comp, []).count() == 0

    def test_metrics_ledger_has_bounded_read_evidence(self, spark, tmp_path):
        """The per-batch metrics row carries store_rows_scanned and
        read_bytes; against a compacted store the scanned-row count is far
        below the store's banded row count (row-group pruning engaged)."""
        from osm2mp_spark.streaming.dedup import (
            compact_store,
            read_batch_metrics,
            start_incremental_dedup,
        )

        land = tmp_path / "landing"
        land.mkdir()
        TestIncrementalDedupStream._land(
            TestIncrementalDedupStream(), spark, land, 0, 14
        )
        schema = spark.read.parquet(str(land)).schema
        store, pairs, ckpt = (
            str(tmp_path / "store"), str(tmp_path / "pairs"),
            str(tmp_path / "ckpt"),
        )

        def run():
            q = start_incremental_dedup(
                spark, str(land), schema, store, pairs, ckpt,
                max_hamming=7, max_files_per_trigger=1,
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()

        run()
        compact_store(spark, store, block_bytes=64 << 10, num_files=4)
        TestIncrementalDedupStream._land(
            TestIncrementalDedupStream(), spark, land, 14, 21
        )
        run()
        m = read_batch_metrics(spark, store).toPandas()
        m = m.sort_values("batch_id").reset_index(drop=True)
        # one landing file per run → batch 0 (pre-compaction, 16 images)
        # and batch 1 (post-compaction, 8 images)
        assert list(m.batch_id) == [0, 1]
        assert (m.read_bytes > 0).all()
        # batch 1 joined against the compacted store via the pruned scan:
        # scanned store rows are the store rows sharing a band key with the
        # batch — O(batch) (≤ 8 per new image per colliding signature),
        # decoupled from store size
        assert m.loc[1, "store_rows_scanned"] <= 8 * m.loc[1, "n_images"] * 4

    def test_mid_stream_compaction_keeps_union_exact(self, spark, tmp_path):
        """compact_store fired WHILE the stream is running (after batch 0
        completes) — later batches pick up the compacted layout and the
        final pair union still equals the one-shot batch join."""
        from osm2mp_spark.operators.images import (
            dhash_wide_images,
            wide_hamming_pairs,
        )
        from osm2mp_spark.streaming.dedup import (
            compact_store,
            read_pairs,
            start_incremental_dedup,
        )

        land = tmp_path / "landing"
        land.mkdir()
        t = TestIncrementalDedupStream()
        t._land(spark, land, 0, 7)
        t._land(spark, land, 7, 14)
        t._land(spark, land, 14, 21)
        schema = spark.read.parquet(str(land)).schema
        store, pairs, ckpt = (
            str(tmp_path / "store"), str(tmp_path / "pairs"),
            str(tmp_path / "ckpt"),
        )
        compacted_at = []

        def hook(batch_id):
            if batch_id == 0:
                compacted_at.append(
                    compact_store(spark, store, num_files=2)
                )

        q = start_incremental_dedup(
            spark, str(land), schema, store, pairs, ckpt,
            max_hamming=7, max_files_per_trigger=1,
            on_batch_complete=hook,
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        assert compacted_at == [1]
        got = read_pairs(spark, pairs).toPandas()
        batch = wide_hamming_pairs(
            dhash_wide_images(spark.read.parquet(str(land))), max_hamming=7
        ).toPandas()
        a = got.sort_values(["id_a", "id_b"]).reset_index(drop=True)
        b = batch.sort_values(["id_a", "id_b"]).reset_index(drop=True)
        assert len(a) == len(b) == 3
        assert (a.id_a == b.id_a).all() and (a.id_b == b.id_b).all()
        assert not got.duplicated(["id_a", "id_b"]).any()


class TestIncrementalANN:
    """streaming.ann: per-query top-k folded from the incremental pairs
    stream — final state must equal the one-shot batch top-k."""

    PRED = "{col} LIKE '%d' OR {col} LIKE '%e'"

    def _one_shot(self, spark, land, k=3):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from osm2mp_spark.operators.images import (
            dhash_wide_images,
            wide_hamming_pairs,
        )

        sigs = dhash_wide_images(spark.read.parquet(str(land)))
        pairs = wide_hamming_pairs(sigs, max_hamming=7)
        a = pairs.filter("id_a LIKE '%d' OR id_a LIKE '%e'").selectExpr(
            "id_a AS query_id", "id_b AS neighbor_id", "hamming"
        )
        b = pairs.filter("id_b LIKE '%d' OR id_b LIKE '%e'").selectExpr(
            "id_b AS query_id", "id_a AS neighbor_id", "hamming"
        )
        w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
        return (
            a.unionByName(b)
            .withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= k)
        )

    def _land_variants(self, spark, d, lo, hi):
        import pandas as pd

        from osm2mp_spark.sources.images import phash_corpus_row

        rows = []
        for i in range(lo, hi):
            rows.append(phash_corpus_row(i, dup=False))
            if i % 3 == 0:  # two variant flavours => query ids %d / %e
                rows.append(phash_corpus_row(i, dup=True))
        spark.createDataFrame(pd.DataFrame(rows)).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))

    def _run(self, spark, land, base, hook=None):
        from osm2mp_spark.streaming.dedup import start_incremental_dedup

        schema = spark.read.parquet(str(land)).schema
        q = start_incremental_dedup(
            spark, str(land), schema,
            store_path=f"{base}/store", pairs_path=f"{base}/pairs",
            checkpoint_path=f"{base}/ckpt",
            max_hamming=7, max_files_per_trigger=1,
            on_batch_complete=hook,
            ann_state_path=f"{base}/state", ann_query_pred=self.PRED,
            ann_k=3,
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    def _check(self, spark, land, base):
        from osm2mp_spark.streaming.ann import read_topk

        got = (
            read_topk(spark, f"{base}/state").toPandas()
            .sort_values(["query_id", "rnk"]).reset_index(drop=True)
        )
        exp = (
            self._one_shot(spark, land).toPandas()
            .sort_values(["query_id", "rnk"]).reset_index(drop=True)
        )
        assert len(got) == len(exp) > 0
        for c in ("query_id", "neighbor_id", "hamming", "rnk"):
            assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c

    def test_streamed_topk_matches_one_shot_with_restart(
        self, spark, tmp_path
    ):
        land = tmp_path / "landing"
        land.mkdir()
        base = str(tmp_path)
        self._land_variants(spark, land, 0, 9)
        self._land_variants(spark, land, 9, 18)
        self._run(spark, land, base)
        self._check(spark, land, base)
        # more corpus lands; restart folds it into the existing state
        self._land_variants(spark, land, 18, 27)
        self._run(spark, land, base)
        self._check(spark, land, base)

    def test_deltas_touch_only_queries_with_new_candidates(
        self, spark, tmp_path
    ):
        import glob

        import pandas as pd

        land = tmp_path / "landing"
        land.mkdir()
        base = str(tmp_path)
        self._land_variants(spark, land, 0, 9)
        self._land_variants(spark, land, 9, 18)
        self._run(spark, land, base)
        deltas = sorted(glob.glob(f"{base}/state/batch=*"))
        assert len(deltas) >= 1
        all_rows = pd.concat(
            [pd.read_parquet(d) for d in deltas], ignore_index=True
        )
        # batch 1's delta only re-ranks queries touched by batch-1 pairs —
        # each delta's query set is a subset of the full query population
        per_batch = all_rows.groupby("state_batch").query_id.nunique()
        total = all_rows.query_id.nunique()
        assert (per_batch <= total).all()
        # state rows carry provenance
        assert set(all_rows.state_batch.unique()) <= {0, 1}

    def test_compaction_gated_by_certification(self, spark, tmp_path):
        import os
        import shutil

        from osm2mp_spark.streaming.ann import (
            compact_topk_state,
            read_topk,
        )

        land = tmp_path / "landing"
        land.mkdir()
        base = str(tmp_path)
        self._land_variants(spark, land, 0, 9)
        self._land_variants(spark, land, 9, 18)
        self._run(spark, land, base)
        before = read_topk(spark, f"{base}/state").toPandas()
        # crash window: batch 1's metrics row vanishes → its state delta
        # must be left out of the merge (replay will rewrite it)
        shutil.rmtree(f"{base}/store/metrics/batch=000000001")
        n = compact_topk_state(spark, f"{base}/state", f"{base}/store")
        assert n == 1
        assert os.path.isdir(f"{base}/state/compacted=1")
        assert os.path.isdir(f"{base}/state/batch=000000001")
        assert not os.path.exists(f"{base}/state/batch=000000000")
        after = (
            read_topk(spark, f"{base}/state").toPandas()
            .sort_values(["query_id", "rnk"]).reset_index(drop=True)
        )
        b = before.sort_values(["query_id", "rnk"]).reset_index(drop=True)
        assert len(after) == len(b)
        for c in ("query_id", "neighbor_id", "hamming", "rnk"):
            assert (after[c].to_numpy() == b[c].to_numpy()).all(), c


class TestPairsCompaction:
    """compact_pairs bounds the pairs subtree's one-dir-per-batch listing
    growth; read_pairs must stay exactly-once across compaction and
    crash-window replays."""

    def test_compact_pairs_preserves_union(self, spark, tmp_path):
        import os
        import shutil

        from osm2mp_spark.streaming.dedup import (
            compact_pairs,
            read_pairs,
            start_incremental_dedup,
        )

        land = tmp_path / "landing"
        land.mkdir()
        t = TestIncrementalDedupStream()
        t._land(spark, land, 0, 7)
        t._land(spark, land, 7, 14)
        schema = spark.read.parquet(str(land)).schema
        store, pairs, ckpt = (
            str(tmp_path / "store"), str(tmp_path / "pairs"),
            str(tmp_path / "ckpt"),
        )
        q = start_incremental_dedup(
            spark, str(land), schema, store, pairs, ckpt,
            max_hamming=7, max_files_per_trigger=1,
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        before = read_pairs(spark, pairs).toPandas()
        assert compact_pairs(spark, pairs, store, num_files=1) == 2
        assert os.path.isdir(f"{pairs}/compacted=2")
        assert not any(
            d.startswith("batch=") for d in os.listdir(pairs)
        )
        after = read_pairs(spark, pairs).toPandas()
        a = after.sort_values(["id_a", "id_b"]).reset_index(drop=True)
        b = before.sort_values(["id_a", "id_b"]).reset_index(drop=True)
        assert len(a) == len(b) == 2
        assert (a.id_a == b.id_a).all() and (a.id_b == b.id_b).all()

        # crash-window replay: batch 1's pairs dir reappears AFTER the
        # compaction swallowed its content — read_pairs must skip it
        shutil.copytree(
            f"{pairs}/compacted=2", f"{pairs}/batch=000000001"
        )
        again = read_pairs(spark, pairs).toPandas()
        assert len(again) == 2  # no duplicates

        # uncertified batch stays out of a subsequent merge
        shutil.rmtree(f"{pairs}/batch=000000001")

    def test_compact_pairs_skips_uncertified(self, spark, tmp_path):
        import os
        import shutil

        from osm2mp_spark.streaming.dedup import (
            compact_pairs,
            read_pairs,
            start_incremental_dedup,
        )

        land = tmp_path / "landing"
        land.mkdir()
        t = TestIncrementalDedupStream()
        t._land(spark, land, 0, 7)
        t._land(spark, land, 7, 14)
        schema = spark.read.parquet(str(land)).schema
        store, pairs, ckpt = (
            str(tmp_path / "store"), str(tmp_path / "pairs"),
            str(tmp_path / "ckpt"),
        )
        q = start_incremental_dedup(
            spark, str(land), schema, store, pairs, ckpt,
            max_hamming=7, max_files_per_trigger=1,
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        shutil.rmtree(os.path.join(store, "metrics", "batch=000000001"))
        n = compact_pairs(spark, pairs, store, num_files=1)
        assert n == 1
        assert os.path.isdir(f"{pairs}/compacted=1")
        assert os.path.isdir(f"{pairs}/batch=000000001")  # replay fodder
        assert read_pairs(spark, pairs).count() == 2


class TestIncrementalClusters:
    """streaming.clusters: min-label components via a forwarding log —
    merges never rewrite member rows; resolved labels equal a batch
    union-find at every step."""

    def _fold(self, spark, root, batch_id, edges):
        import pandas as pd

        from osm2mp_spark.streaming.clusters import update_clusters

        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["id_a", "id_b"])
        ) if edges else spark.createDataFrame([], "id_a long, id_b long")
        update_clusters(
            spark, root, batch_id, df,
            "CAST(id_a AS BIGINT)", "CAST(id_b AS BIGINT)",
        )

    def _batch_uf(self, all_edges):
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b in all_edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        verts = {v for e in all_edges for v in e}
        return {v: find(v) for v in verts}

    def test_merge_across_batches_matches_batch_uf(self, spark, tmp_path):
        from osm2mp_spark.streaming.clusters import read_labels

        root = str(tmp_path / "clusters")
        batches = [
            [(5, 9), (9, 12)],          # cluster {5,9,12} root 5
            [(20, 30), (31, 30)],       # cluster {20,30,31} root 20
            [(12, 31)],                 # MERGE both → root 5 (forwarding)
            [(2, 20)],                  # attach 2 → root becomes 2!
            [],                         # empty batch
        ]
        seen = []
        for i, edges in enumerate(batches):
            self._fold(spark, root, i, edges)
            seen += edges
            got = {
                int(r.vertex): int(r.label)
                for r in read_labels(spark, root).collect()
            }
            assert got == self._batch_uf(seen), f"diverged at batch {i}"

    def test_hot_batch_guard_bounds_driver_collect(
        self, spark, tmp_path, caplog
    ):
        """A pair-quadratic jackpot batch (all-pairs clique, the constant-
        band flood shape bench_skew plants) must NOT ship its O(n²) edges
        to the driver: above driverMaxEdges the fold's components run
        distributed and it collects only O(vertices) spanning edges — with
        outputs identical to the raw-edge fold."""
        import logging

        from osm2mp_spark.streaming.clusters import read_labels

        caplog.set_level(logging.INFO, logger="osm2mp_spark.operators.chains")
        spark.conf.set("spark.osm2mp.components.driverMaxEdges", "50")
        try:
            root = str(tmp_path / "clusters")
            # clique of 20 → 190 pairs > 50: the distributed path pulls
            # 51 edges and no more
            clique = [
                (a, b)
                for a in range(100, 120)
                for b in range(100, 120)
                if a < b
            ]
            self._fold(spark, root, 0, clique)
            assert [r.getMessage().split(", rounds=")[0]
                    for r in caplog.records] == [
                "components: distributed, edges_pulled=51, "
                "driverMaxEdges=50"
            ]
            got = {
                int(r.vertex): int(r.label)
                for r in read_labels(spark, root).collect()
            }
            assert got == self._batch_uf(clique)
            # a later small batch (driver path) must interoperate:
            # attaching 50 re-roots the jackpot cluster via forwarding
            self._fold(spark, root, 1, [(50, 100)])
            got = {
                int(r.vertex): int(r.label)
                for r in read_labels(spark, root).collect()
            }
            assert got == self._batch_uf(clique + [(50, 100)])
        finally:
            spark.conf.unset("spark.osm2mp.components.driverMaxEdges")

    def test_shuffled_path_fold_above_bound(self, spark, tmp_path):
        """A 64-vertex path whose ids are shuffled needs ~50 rounds of the
        distributed fixpoint: folded above driverMaxEdges, every vertex
        still resolves to the path's minimum id (a round cap would leave
        unconverged labels in the spanning edges)."""
        import random

        from osm2mp_spark.streaming.clusters import read_labels

        ids = list(range(64))
        random.Random(3).shuffle(ids)
        path = list(zip(ids[:-1], ids[1:]))
        spark.conf.set("spark.osm2mp.components.driverMaxEdges", "10")
        try:
            root = str(tmp_path / "clusters")
            self._fold(spark, root, 0, path)
        finally:
            spark.conf.unset("spark.osm2mp.components.driverMaxEdges")
        got = {
            int(r.vertex): int(r.label)
            for r in read_labels(spark, root).collect()
        }
        assert got == self._batch_uf(path) == {v: 0 for v in ids}

    def test_self_loop_same_on_both_guard_paths(self, spark, tmp_path):
        """A self-loop pair links nothing: with the batch's components
        labeled on the driver (edges ≤ driverMaxEdges) and distributed
        (above it) the fold is the same, with the same labels/ and
        forward/ rows."""
        import pandas as pd

        from osm2mp_spark.streaming.clusters import update_clusters

        edges = [(7, 7), (3, 9), (9, 12)]
        out = {}
        for max_edges in (1, 10):  # distributed, driver
            spark.conf.set(
                "spark.osm2mp.components.driverMaxEdges", str(max_edges)
            )
            try:
                root = str(tmp_path / f"clusters{max_edges}")
                fold = update_clusters(
                    spark, root, 0,
                    spark.createDataFrame(
                        pd.DataFrame(edges, columns=["id_a", "id_b"])
                    ),
                    "CAST(id_a AS BIGINT)", "CAST(id_b AS BIGINT)",
                )
            finally:
                spark.conf.unset("spark.osm2mp.components.driverMaxEdges")
            written = {
                d: sorted(
                    map(tuple, spark.read.parquet(
                        f"{root}/{d}/batch=000000000"
                    ).collect())
                )
                for d in ("labels", "forward")
            }
            out[max_edges] = (fold, written)
        assert out[1] == out[10]
        assert 7 not in out[10][0]["touched"]

    def test_unmaterialized_pairs_evaluated_once(self, spark, tmp_path):
        """update_clusters accepts any DataFrame: an unmaterialized `pairs`
        is evaluated once per fold on both sides of the components bound,
        counted by an
        accumulator in a UDF (nondeterministic, so Spark evaluates it
        exactly once per row per pass)."""
        from pyspark.sql import functions as F

        from osm2mp_spark.streaming.clusters import update_clusters

        edges = [(3, 9), (9, 12), (20, 21), (7, 7)]
        for max_edges in (1, 10):  # distributed, driver
            acc = spark.sparkContext.accumulator(0)

            def tap(v, acc=acc):
                acc.add(1)
                return v

            pairs = spark.createDataFrame(
                edges, "id_a long, id_b long"
            ).withColumn(
                "id_a", F.udf(tap, "long").asNondeterministic()("id_a")
            )
            spark.conf.set(
                "spark.osm2mp.components.driverMaxEdges", str(max_edges)
            )
            try:
                fold = update_clusters(
                    spark, str(tmp_path / f"clusters{max_edges}"), 0, pairs,
                    "CAST(id_a AS BIGINT)", "CAST(id_b AS BIGINT)",
                )
            finally:
                spark.conf.unset("spark.osm2mp.components.driverMaxEdges")
            assert fold["touched"] == [3, 9, 12, 20, 21]
            assert acc.value == len(edges), f"max_edges {max_edges}"

    def test_forwarding_holds_roots_only_and_compaction_resolves(
        self, spark, tmp_path
    ):
        import glob

        import pandas as pd

        from osm2mp_spark.streaming.clusters import (
            compact_labels,
            read_labels,
        )

        root = str(tmp_path / "clusters")
        store = str(tmp_path / "store")
        self._fold(spark, root, 0, [(5, 9), (20, 30)])
        self._fold(spark, root, 1, [(9, 30), (100, 101)])  # merge 20→5
        fdirs = sorted(glob.glob(f"{root}/forward/batch=*"))
        fwd = pd.concat(
            [pd.read_parquet(d) for d in fdirs], ignore_index=True
        )
        # exactly ONE forwarding row (root 20 → 5) — never per-vertex rows
        assert len(fwd) == 1
        assert (int(fwd.from_label[0]), int(fwd.to_label[0])) == (20, 5)

        # certify both batches, compact, forwarding tail drains
        for b in (0, 1):
            spark.createDataFrame(
                [(b, 1, 1, 1.0, 1.0, 0, 0)],
                "batch_id long, n_images long, n_pairs long, secs double, "
                "images_per_sec double, store_rows_scanned long, "
                "read_bytes long",
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{store}/metrics/batch={b:09d}"
            )
        n = compact_labels(spark, root, store, num_files=2)
        assert n == 2
        assert not glob.glob(f"{root}/forward/batch=*")
        assert not glob.glob(f"{root}/labels/batch=*")
        got = {
            int(r.vertex): int(r.label)
            for r in read_labels(spark, root).collect()
        }
        assert got == self._batch_uf([(5, 9), (20, 30), (9, 30), (100, 101)])
        # compacted labels carry fully-resolved roots (no stale 20s)
        lab = pd.read_parquet(f"{root}/labels/compacted=2")
        assert set(lab.label) == {5, 100}

    def test_recommit_at_unchanged_horizon_keeps_state(
        self, spark, tmp_path
    ):
        """Code-review regression: a compaction whose only inputs are
        sub-horizon replay dirs recommits at the SAME horizon — the new
        compacted dir occupies the old one's path, and deleting 'the old
        compacted dir' afterwards would delete the store's only compacted
        state (the _commit_compacted old_comp != final guard)."""
        import glob

        from osm2mp_spark.streaming.clusters import (
            compact_labels,
            read_labels,
        )

        root = str(tmp_path / "clusters")
        store = str(tmp_path / "store")
        self._fold(spark, root, 0, [(5, 9)])
        self._fold(spark, root, 1, [(9, 30)])
        for b in (0, 1):
            spark.createDataFrame(
                [(b, 1, 1, 1.0, 1.0, 0, 0)],
                "batch_id long, n_images long, n_pairs long, secs double, "
                "images_per_sec double, store_rows_scanned long, "
                "read_bytes long",
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{store}/metrics/batch={b:09d}"
            )
        assert compact_labels(spark, root, store) == 2
        want = {
            int(r.vertex): int(r.label)
            for r in read_labels(spark, root).collect()
        }
        # a crash-window replay of certified batch 1 rewrites its (now
        # degenerate, empty) delta dirs below the horizon...
        self._fold(spark, root, 1, [(9, 30)])
        # ...and the next compaction sees only sub-horizon inputs →
        # horizon stays 2, the commit lands on the same path
        assert compact_labels(spark, root, store) == 2
        assert glob.glob(f"{root}/labels/compacted=2/*.parquet")
        got = {
            int(r.vertex): int(r.label)
            for r in read_labels(spark, root).collect()
        }
        assert got == want == {5: 5, 9: 5, 30: 5}

    def test_replay_is_idempotent(self, spark, tmp_path):
        from osm2mp_spark.streaming.clusters import read_labels

        root = str(tmp_path / "clusters")
        self._fold(spark, root, 0, [(5, 9)])
        self._fold(spark, root, 1, [(9, 3)])
        before = sorted(
            (int(r.vertex), int(r.label))
            for r in read_labels(spark, root).collect()
        )
        # crash replay of batch 1: identical recompute, state unchanged
        self._fold(spark, root, 1, [(9, 3)])
        after = sorted(
            (int(r.vertex), int(r.label))
            for r in read_labels(spark, root).collect()
        )
        assert before == after == [(3, 3), (5, 3), (9, 3)]


class TestIncrementalFlagshipRollup:
    """streaming.flagship: the published per-(city, tile) keeper rollup
    maintained as a retraction delta log — summing the log must equal the
    batch rollup after every micro-batch, for any arrival order and any
    edge/batch split, with replays and mid-run compaction."""

    @staticmethod
    def _assign(df):
        from pyspark.sql import functions as F

        return df.withColumn(
            "city_id", F.expr("CAST(point_id % 5 AS STRING)")
        ).withColumn("tile_id", F.expr("CAST(point_id % 7 AS INT)"))

    @staticmethod
    def _truth(arrived, edges):
        """Batch ground truth: min-label union-find over `edges`, every
        arrived vertex a cluster member (singletons included), keepers
        aggregated per (root % 5, root % 7)."""
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        sizes = {}
        for v in arrived:
            sizes[find(v)] = sizes.get(find(v), 0) + 1
        out = {}
        for r, s in sizes.items():
            key = (str(r % 5), r % 7)
            dk, di = out.get(key, (0, 0))
            out[key] = (dk + 1, di + s)
        return out

    def _fold_batch(self, spark, clusters_root, rollup_root, bid,
                    arrivals, edges):
        import pandas as pd

        from osm2mp_spark.streaming.clusters import update_clusters
        from osm2mp_spark.streaming.flagship import update_rollup

        pairs = spark.createDataFrame(
            pd.DataFrame(edges, columns=["id_a", "id_b"])
        ) if edges else spark.createDataFrame([], "id_a long, id_b long")
        fold = update_clusters(
            spark, clusters_root, bid, pairs,
            "CAST(id_a AS BIGINT)", "CAST(id_b AS BIGINT)",
        )
        sigs = spark.createDataFrame(
            [(v,) for v in arrivals] or [], "vertex long"
        )
        update_rollup(
            spark, rollup_root, bid, sigs, "vertex", fold, self._assign
        )

    @staticmethod
    def _read(spark, rollup_root):
        from osm2mp_spark.streaming.flagship import read_rollup

        return {
            (r.city_id, int(r.tile_id)): (int(r.n_keepers), int(r.n_images))
            for r in read_rollup(spark, rollup_root).collect()
        }

    def test_random_arrivals_edges_splits(self, spark, tmp_path):
        """Fuzz: random vertex arrival batches, random edges assigned to
        any batch at/after both endpoints' arrival, log == truth after
        EVERY batch."""
        import random

        rng = random.Random(20260818)
        for case in range(3):
            verts = list(range(rng.randint(8, 26)))
            rng.shuffle(verts)
            n_batches = rng.randint(2, 5)
            arrival_of, arrivals = {}, [[] for _ in range(n_batches)]
            for v in verts:
                b = rng.randrange(n_batches)
                arrival_of[v] = b
                arrivals[b].append(v)
            batch_edges = [[] for _ in range(n_batches)]
            for _ in range(rng.randint(3, 18)):
                a, b = rng.sample(verts, 2)
                lo = max(arrival_of[a], arrival_of[b])
                batch_edges[rng.randrange(lo, n_batches)].append((a, b))
            croot = str(tmp_path / f"c{case}" / "clusters")
            rroot = str(tmp_path / f"c{case}" / "rollup")
            seen_v, seen_e = [], []
            for bid in range(n_batches):
                self._fold_batch(
                    spark, croot, rroot, bid, arrivals[bid],
                    batch_edges[bid],
                )
                seen_v += arrivals[bid]
                seen_e += batch_edges[bid]
                got = self._read(spark, rroot)
                want = self._truth(seen_v, seen_e)
                assert got == want, (
                    f"case {case} diverged at batch {bid}: "
                    f"{got} != {want}"
                )

    def test_replay_is_idempotent(self, spark, tmp_path):
        croot = str(tmp_path / "clusters")
        rroot = str(tmp_path / "rollup")
        self._fold_batch(spark, croot, rroot, 0, [5, 9, 30], [(5, 9)])
        self._fold_batch(spark, croot, rroot, 1, [3], [(9, 3), (3, 30)])
        before = self._read(spark, rroot)
        # crash replay of batch 1: identical recompute, sums unchanged
        self._fold_batch(spark, croot, rroot, 1, [3], [(9, 3), (3, 30)])
        after = self._read(spark, rroot)
        assert before == after == self._truth(
            [5, 9, 30, 3], [(5, 9), (9, 3), (3, 30)]
        )

    def test_merge_retracts_moved_root(self, spark, tmp_path):
        """A merge that MOVES the root must retract both old rows and add
        exactly one row at the new root's cell."""
        croot = str(tmp_path / "clusters")
        rroot = str(tmp_path / "rollup")
        # roots 10 (cluster {10,12}) and 21 (cluster {21,22}) — cells
        # ("0", 3) and ("1", 0)
        self._fold_batch(spark, croot, rroot, 0, [10, 12, 21, 22],
                         [(10, 12), (21, 22)])
        assert self._read(spark, rroot) == {
            ("0", 3): (1, 2), ("1", 0): (1, 2),
        }
        # merge via (12, 21): root becomes 10 — 21's row must vanish
        self._fold_batch(spark, croot, rroot, 1, [], [(12, 21)])
        assert self._read(spark, rroot) == {("0", 3): (1, 4)}

    def test_crash_between_label_and_rollup_compaction(
        self, spark, tmp_path
    ):
        """THE partial-hook crash window (code-review finding): batch N is
        certified, compact_labels commits THROUGH N, then the process dies
        before compact_rollup and the checkpoint commit. The restarted
        stream replays batch N — whose cluster fold now reads post-batch
        (compacted) label state and degenerates to a no-op. For the
        state-idempotent labels that is harmless; for the INCREMENT-based
        rollup deltas a recompute would overwrite the correct delta dir
        with the degenerate one. The certification guard in process() must
        skip update_rollup on such replays, keeping the published sums
        exact."""
        import pandas as pd

        from osm2mp_spark.plans.flagship import flagship_assign
        from osm2mp_spark.queries.images_q import _img_key
        from osm2mp_spark.sources.images import phash_corpus_row
        from osm2mp_spark.sources.points import with_derived_position
        from osm2mp_spark.streaming.clusters import compact_labels
        from osm2mp_spark.streaming.dedup import (
            compact_store,
            start_incremental_dedup,
        )
        from osm2mp_spark.streaming.flagship import read_rollup

        land = tmp_path / "landing"
        land.mkdir()
        # file order is the batch order (FileStreamSource sorts by mtime):
        # the DUP of image 0 lands FIRST (batch 0: a counted singleton
        # whose key 0*4+1 is its cluster root), the ORIGINAL lands second
        # (batch 1: the pair appears and the root MOVES to the arrival's
        # smaller key 0*4) — the exact shape whose degenerate replay loses
        # the retraction of the old root's row
        for rows in (
            [phash_corpus_row(0, dup=True), phash_corpus_row(3, dup=False)],
            [phash_corpus_row(0, dup=False), phash_corpus_row(7, dup=False),
             phash_corpus_row(7, dup=True)],
            [phash_corpus_row(1, dup=False)],
        ):
            spark.createDataFrame(pd.DataFrame(rows)).coalesce(
                1
            ).write.mode("append").parquet(str(land))
            import time as _t

            _t.sleep(1.05)  # distinct mtimes pin the batch order
        schema = spark.read.parquet(str(land)).schema
        store = str(tmp_path / "store")
        clusters = str(tmp_path / "clusters")
        rollup = str(tmp_path / "rollup")

        def assign(df):
            return flagship_assign(with_derived_position(df, "point_id"))

        class Boom(Exception):
            pass

        def crashing_hook(batch_id):
            if batch_id == 1:
                # metrics row for batch 1 already landed (certified);
                # compact labels THROUGH batch 1, then die before
                # compact_rollup / checkpoint commit
                compact_store(spark, store)
                compact_labels(spark, clusters, store)
                raise Boom()

        def run(hook):
            q = start_incremental_dedup(
                spark, str(land), schema,
                store_path=store,
                pairs_path=str(tmp_path / "pairs"),
                checkpoint_path=str(tmp_path / "ckpt"),
                max_hamming=7, max_files_per_trigger=1,
                on_batch_complete=hook,
                clusters_root=clusters,
                cluster_key_exprs=(_img_key("id_a"), _img_key("id_b")),
                rollup_root=rollup,
                rollup_key_expr=_img_key("image_id"),
                rollup_assign=assign,
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()

        import pytest as _pytest

        with _pytest.raises(Exception, match="Boom"):
            run(crashing_hook)  # ONLY the planted mid-hook crash passes
        run(None)  # restart: replays certified batch 1, then continues
        got = {
            (r.city_id, int(r.tile_id)): (int(r.n_keepers), int(r.n_images))
            for r in read_rollup(spark, rollup).collect()
        }
        # one-shot truth over the same corpus
        from osm2mp_spark.operators.images import (
            dhash_wide_images,
            wide_hamming_pairs,
        )

        from osm2mp_spark.queries.images_q import _image_clusters
        from pyspark.sql import functions as F

        corpus = spark.read.parquet(str(land))
        sigs = dhash_wide_images(corpus).localCheckpoint(eager=False)
        keepers = (
            _image_clusters(sigs, wide_hamming_pairs(sigs, max_hamming=7))
            .filter("keep")
            .selectExpr("k AS point_id", "cluster_size AS n")
        )
        want = {
            (r.city_id, int(r.tile_id)): (int(r.n_keepers), int(r.n_images))
            for r in assign(keepers)
            .groupBy("city_id", "tile_id")
            .agg(F.count("*").alias("n_keepers"),
                 F.sum("n").alias("n_images"))
            .collect()
        }
        assert got == want

    def test_compaction_preserves_sums_and_prunes_sizes(
        self, spark, tmp_path
    ):
        import pandas as pd

        from osm2mp_spark.streaming.dedup import BATCH_METRICS_SCHEMA
        from osm2mp_spark.streaming.flagship import (
            _sizes_for,
            compact_rollup,
        )

        croot = str(tmp_path / "clusters")
        rroot = str(tmp_path / "rollup")
        store = str(tmp_path / "store")
        self._fold_batch(spark, croot, rroot, 0, [1, 2, 3, 4],
                         [(1, 2), (3, 4)])
        self._fold_batch(spark, croot, rroot, 1, [8], [(2, 3)])
        # certify both batches so compaction may merge them
        for b in (0, 1):
            spark.createDataFrame(
                pd.DataFrame([{
                    "batch_id": b, "n_images": 0, "n_pairs": 0,
                    "secs": 0.0, "images_per_sec": 0.0,
                    "store_rows_scanned": 0, "read_bytes": 0,
                }]), BATCH_METRICS_SCHEMA,
            ).write.mode("overwrite").parquet(
                f"{store}/metrics/batch={b:09d}"
            )
        before = self._read(spark, rroot)
        horizon = compact_rollup(spark, rroot, store)
        assert horizon == 2
        assert self._read(spark, rroot) == before == self._truth(
            [1, 2, 3, 4, 8], [(1, 2), (3, 4), (2, 3)]
        )
        # sizes store now holds only the latest row per root: root 1's
        # size-2 record from batch 0 was superseded by the size-4 merge
        # (retired root 3's record is stale but harmless — current-root
        # lookups can never reach it)
        assert _sizes_for(spark, f"{rroot}/sizes", [1, 3]) == {1: 4, 3: 2}
        # folding AFTER compaction still reads state correctly
        self._fold_batch(spark, croot, rroot, 2, [9], [(9, 8)])
        assert self._read(spark, rroot) == self._truth(
            [1, 2, 3, 4, 8, 9], [(1, 2), (3, 4), (2, 3), (9, 8)]
        )


class TestReplayHorizonGuard:
    """Every store reader bounded by a batch id shares one replay-horizon
    rule: a compacted horizon of batch + 1 (the certified-but-uncommitted
    crash window) is read, a horizon of batch + 2 raises."""

    def test_every_reader_guards_the_horizon(self, spark, tmp_path):
        from pyspark.errors import StreamingQueryException

        from osm2mp_spark.operators.images import dhash_wide_images
        from osm2mp_spark.sources.images import phash_corpus_row
        from osm2mp_spark.streaming.ann import TOPK_SCHEMA, _read_state
        from osm2mp_spark.streaming.clusters import (
            LABELS_SCHEMA,
            _labels_for,
        )
        from osm2mp_spark.streaming.dedup import (
            banded_signatures,
            read_pairs,
            start_incremental_dedup,
        )
        from osm2mp_spark.streaming.flagship import SIZES_SCHEMA, _sizes_for

        def compacted(root, horizon, rows, schema):
            spark.createDataFrame(rows, schema).write.mode(
                "overwrite"
            ).parquet(f"{root}/compacted={horizon}")
            return root

        readers = {
            "ann": lambda root, b: _read_state(
                spark, root, ["q"], below=b
            ).count(),
            "labels": lambda root, b: _labels_for(spark, root, [1], below=b),
            "sizes": lambda root, b: _sizes_for(spark, root, [1], below=b),
        }
        data = {
            "ann": ([("q", "n", 1, 1, 0)], TOPK_SCHEMA, 1),
            "labels": ([(1, 1)], LABELS_SCHEMA, {1: 1}),
            "sizes": ([(1, 2, 0)], SIZES_SCHEMA, {1: 2}),
        }
        for name, read in readers.items():
            rows, schema, want = data[name]
            root = compacted(str(tmp_path / name), 3, rows, schema)
            assert read(root, 2) == want, name
            with pytest.raises(RuntimeError, match="compacted through"):
                read(root, 1)

        # the signature-store join: a fresh stream processes batch 0
        # against a store already compacted through batch 0 (accepted)
        # or through batch 1 (refused)
        land = tmp_path / "landing"
        rows = [phash_corpus_row(i, dup=False) for i in range(3)]
        spark.createDataFrame(pd.DataFrame(rows)).coalesce(1).write.parquet(
            str(land)
        )
        schema = spark.read.parquet(str(land)).schema
        prefix = banded_signatures(dhash_wide_images(spark.createDataFrame(
            pd.DataFrame([phash_corpus_row(0, dup=True)])
        )))
        for horizon in (1, 2):
            base = tmp_path / f"h{horizon}"
            prefix.write.parquet(f"{base}/store/compacted={horizon}")
            q = start_incremental_dedup(
                spark, str(land), schema, f"{base}/store", f"{base}/pairs",
                f"{base}/ckpt", max_hamming=7,
            )
            try:
                if horizon == 1:
                    q.awaitTermination()
                    assert read_pairs(spark, f"{base}/pairs").count() == 1
                else:
                    with pytest.raises(
                        StreamingQueryException, match="compacted through"
                    ):
                        q.awaitTermination()
            finally:
                q.stop()


class TestPrunedScanCrossover:
    """Past the plan-size ceiling, pruning continues as long as the
    predicted pruned read (keys × max row-group rows) stays under the
    store's total rows; only past that crossover does the scan
    deliberately fall back to one full pass."""

    def test_crossover_decision(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from osm2mp_spark.streaming.dedup import pruned_store_scan

        comp = str(tmp_path / "compacted=1")
        (
            spark.range(50_000)
            .selectExpr("id AS bandkey", "md5(cast(id as string)) AS payload")
            .repartitionByRange(4, "bandkey")
            .sortWithinPartitions("bandkey")
            .write.option("parquet.block.size", 64 << 10).parquet(comp)
        )
        keys = list(range(0, 50_000, 100))  # 500 keys
        spark.conf.set("spark.osm2mp.store.maxPushdownKeys", "100")
        try:
            # 500 keys > ceiling 100, but 500 × max_rowgroup << 50k rows?
            # row groups here are ~2k rows → predicted 1M ≥ 50k → full scan
            df = pruned_store_scan(spark, comp, keys)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "In(bandkey" not in plan  # crossover → full scan
            # tiny key set under the ceiling still prunes
            df2 = pruned_store_scan(spark, comp, keys[:50])
            plan2 = df2._jdf.queryExecution().executedPlan().toString()
            assert "In(bandkey" in plan2
            assert df2.count() == 50
        finally:
            spark.conf.unset("spark.osm2mp.store.maxPushdownKeys")
