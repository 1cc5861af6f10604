"""Sinks (S5/S7/S8/S11), access-flag vectors, transliteration."""

import os

import pytest
from pyspark.sql import functions as F


class TestPolyReader:
    def test_parses_and_closes(self):
        from osm2mp_spark.sources.boundary_io import read_poly

        text = "test\n1\n   0.0  0.0\n   10.0 0.0\n   10.0 10.0\n   0.0 10.0\nEND\nEND\n"
        ring = read_poly(text)
        assert ring[0] == ring[-1]
        assert len(ring) == 5

    def test_cw_reversed_to_ccw(self):
        from osm2mp_spark.geometry.kernels import signed_area
        from osm2mp_spark.sources.boundary_io import read_poly

        cw = "t\n1\n 0 0\n 0 10\n 10 10\n 10 0\nEND\nEND\n"
        ring = read_poly(cw)
        assert signed_area(ring) > 0

    def test_empty_section_raises(self):
        from osm2mp_spark.sources.boundary_io import read_poly

        with pytest.raises(ValueError):
            read_poly("t\n1\nEND\nEND\n")


class TestPerTileSink:
    def test_partitioned_write_roundtrip(self, spark, tmp_path):
        from osm2mp_spark.plans.sinks import write_per_tile

        df = spark.range(100).selectExpr(
            "id", "CAST(id % 4 AS INT) AS tile_id", "id * 2 AS v"
        )
        out = str(tmp_path / "tiles")
        write_per_tile(df, out)
        # one directory per tile
        dirs = sorted(d for d in os.listdir(out) if d.startswith("tile_id="))
        assert dirs == [f"tile_id={i}" for i in range(4)]
        back = spark.read.parquet(out)
        assert back.count() == 100
        assert back.filter("tile_id = 2").count() == 25

    def test_mp_text_render(self):
        from osm2mp_spark.plans.sinks import render_mp_points

        txt = render_mp_points([(0x2C04, "Museum", 30.5, 59.25)])
        assert "[POI]" in txt and "Type=0x2c04" in txt
        assert "Data0=(59.25000,30.50000)" in txt
        assert txt.rstrip().endswith("[END]")


class TestAccessFlags:
    def test_mask_roundtrip(self, spark):
        from osm2mp_spark.functions.access import mask_to_array, reorder_for_mpc

        df = spark.createDataFrame([(0b10100001,)], "m int").select(
            mask_to_array(F.col("m")).alias("arr")
        )
        arr = df.collect()[0].arr
        assert arr == [1, 0, 0, 0, 0, 1, 0, 1]
        re = spark.createDataFrame([(arr,)], "arr array<int>").select(
            reorder_for_mpc(F.col("arr")).alias("r")
        ).collect()[0].r
        # WriterMPC.pm:373 slice [2,3,4,9,5,6,7,9,1,0] → 10 mpc flags
        # (Carpools / Through Traffic constant 0)
        assert re == [0, 0, 0, 0, 1, 0, 1, 0, 0, 1]

    def test_motorroad_inverted(self, spark):
        from osm2mp_spark.functions.access import tag_access_mask

        rows = [
            ({"motorroad": "yes"},),   # forbids foot+bike (mode -1)
            ({"motorroad": "no"},),
            ({"motorroad": "yes", "foot": "yes"},),  # foot re-allowed later
        ]
        df = spark.createDataFrame(rows, "tags map<string,string>").select(
            tag_access_mask(F.col("tags")).alias("m")
        )
        got = [r.m for r in df.collect()]
        assert got == [0b01100000, 0, 0b01000000]

    def test_tag_masks(self, spark):
        from osm2mp_spark.functions.access import tag_access_mask

        rows = [
            ({"access": "no"},),
            ({"access": "no", "foot": "yes"},),
            ({"bicycle": "no"},),
            ({},),
        ]
        df = spark.createDataFrame(rows, "tags map<string,string>").select(
            tag_access_mask(F.col("tags")).alias("m")
        )
        got = [r.m for r in df.collect()]
        assert got[0] == 0b11111111
        assert got[1] == 0b11011111  # foot bit cleared
        assert got[2] == 0b01000000
        assert got[3] == 0

    def test_area_override_merge(self, spark):
        from osm2mp_spark.functions.access import merge_masks

        df = spark.createDataFrame([(0b1, 0b100)], "a int, b int").select(
            merge_masks(F.col("a"), F.col("b")).alias("m")
        )
        assert df.collect()[0].m == 0b101


class TestStrings:
    def test_clean_label(self, spark):
        from osm2mp_spark.functions.strings import clean_label

        df = spark.createDataFrame(
            [(" ..Main   St{reet}  ",), ("ok",)], "s string"
        ).select(clean_label(F.col("s")).alias("c"))
        got = [r.c for r in df.collect()]
        assert got == ["Main Street", "ok"]

    def test_translit(self, spark):
        from osm2mp_spark.functions.strings import make_translit_udf

        tr = make_translit_udf(spark)
        df = spark.createDataFrame(
            [("Müller",), ("москва",), (None,)], "s string"
        ).select(tr(F.col("s")).alias("t"))
        got = [r.t for r in df.collect()]
        assert got == ["Muller", "moskva", None]


class TestFieldSelectors:
    """F6 selector compiler semantics (osm2mp.pl:1856-2000) + F7 presets."""

    def _resolve(self, spark, spec, strict=False, **cols):
        from osm2mp_spark.functions.rules import field_to_column

        schema = ", ".join(f"{k} string" for k in cols)
        df = spark.createDataFrame([tuple(cols.values())], schema)
        return df.select(field_to_column(spec, strict=strict).alias("v")).first().v

    def test_template_lenient_vs_strict(self, spark):
        # lenient (top-level): missing tag substitutes '' (osm2mp.pl:1860-1864)
        assert self._resolve(spark, "a-%x-%y", x="1", y=None) == "a-1-"
        # strict (inside arrays, empty_failed): missing tag → undef (:1865)
        assert self._resolve(spark, "a-%x-%y", strict=True, x="1", y=None) is None
        # empty result → undef (:1867)
        assert self._resolve(spark, "%x", x=None) is None

    def test_tag_switch_empty_default(self, spark):
        spec = {"selector": "tag", "tag": "t", "v1": "one",
                "_empty": "none", "_default": "other"}
        assert self._resolve(spark, spec, t="v1") == "one"
        assert self._resolve(spark, spec, t=None) == "none"
        assert self._resolve(spark, spec, t="zz") == "other"

    def test_thresholds_below_min_is_null(self, spark):
        spec = {"selector": "thresholds", "value": "%n", 100: "mid", 400: "big"}
        assert self._resolve(spark, spec, n="50") is None
        assert self._resolve(spark, spec, n="150") == "mid"
        assert self._resolve(spark, spec, n="400") == "big"

    def test_first_non_empty_array(self, spark):
        spec = ["%a", "%b", "dflt"]
        assert self._resolve(spark, spec, a=None, b="bee") == "bee"
        assert self._resolve(spark, spec, a=None, b=None) == "dflt"

    def test_lang_selector_fallbacks(self, spark):
        from osm2mp_spark.functions.rules import field_to_column

        df = spark.createDataFrame([("s",)], "src string")
        spec = {"selector": "lang", "de": "DE", "en": "EN-%src"}
        v = df.select(
            field_to_column(spec, target_lang="ru").alias("v")
        ).first().v
        assert v == "EN-s"  # target missing → en fallback (osm2mp.pl:1941-1944)

    def test_presets_expand_and_override(self):
        import pytest as _pytest

        from osm2mp_spark.functions.rules import expand_presets

        presets = {"contacts": {"phone": "%p", "web": "w"}}
        out = expand_presets(
            {"contacts": True, "extra_fields": {"web": "mine"}}, presets
        )
        assert out == {"phone": "%p", "web": "mine"}
        with _pytest.raises(KeyError):
            expand_presets({"presets": ["nope"]}, presets)


class TestGarminTable:
    def test_parse_code_table_reference_format(self):
        from osm2mp_spark.functions.garmin import parse_code_table

        text = "0x0A00  1   TESTPOINT\n0x0a  3   TESTLINE\n\nnot a row\n0x0A00  1   OVERRIDE\n"
        t = parse_code_table(text)
        assert t[(1, "0x0a00")] == "OVERRIDE"  # lowercased key, later wins
        assert t[(3, "0x0a")] == "TESTLINE"

    def test_translate_broadcast_join(self, spark):
        from tests.test_plans import plan_of

        from osm2mp_spark.functions.garmin import translate_types

        df = spark.createDataFrame(
            [(1, 1, "0x0100"), (2, 3, "0xFE")],
            "feature_id bigint, kind int, mp_code string",
        )
        out = translate_types(df)
        got = {r.feature_id: r.garmin_type for r in out.collect()}
        assert got == {1: "LARGE_CITY", 2: "UNKNOWN"}
        assert "BroadcastHashJoin" in plan_of(out)


class TestStreetAbbrev:
    """F12 kernel vs hand-derived expectations (mp-postprocess.pl:149-173)."""

    def test_fixture_table(self):
        from osm2mp_spark.functions.strings import clear_street
        from osm2mp_spark.queries.rules import _STREET_FIXTURES

        for inp, expected in _STREET_FIXTURES:
            assert clear_street(inp) == expected, inp

    def test_unmatched_returns_original_not_ucfirst(self):
        from osm2mp_spark.functions.strings import clear_street

        assert clear_street("садовое кольцо") == "садовое кольцо"
        assert clear_street(None) is None

    def test_standalone_type_word_unchanged(self):
        from osm2mp_spark.functions.strings import clear_street

        # bare type token has neither prefix nor postfix → skipped
        assert clear_street("улица") == "улица"


class TestLayerSchemas:
    def test_fixed_schemas_match_reference_spec(self):
        from osm2mp_spark.plans.sinks import LAYER_SCHEMAS

        assert set(LAYER_SCHEMAS) == {
            "points", "areas", "lines", "roads", "addr_pseudoroads"
        }
        assert [f.name for f in LAYER_SCHEMAS["lines"].fields] == [
            "NAME", "GRMN_TYPE"
        ]
        roads = [f.name for f in LAYER_SCHEMAS["roads"].fields]
        assert roads[:4] == ["NAME", "GRMN_TYPE", "ROUTE_LVL", "SPD_LIMIT"]
        assert "ACC_MASK" in roads and "TURN_RSTRS" in roads
        # pseudoroads extend roads (WriterMPC.pm:75-89)
        pseudo = [f.name for f in LAYER_SCHEMAS["addr_pseudoroads"].fields]
        assert pseudo[: len(roads)] == roads
        assert pseudo[-2:] == ["Z_LVL_STRT", "Z_LVL_END"]
        # ACC_MASK is the 10-char mpc flag string
        acc = next(f for f in LAYER_SCHEMAS["roads"].fields if f.name == "ACC_MASK")
        assert acc.metadata["dbf_width"] == 10

    def test_conform_fills_missing_and_keeps_extras(self, spark, tmp_path):
        from osm2mp_spark.plans.sinks import conform_to_layer, write_layers

        df = spark.createDataFrame(
            [("Main St", "RESIDENTIAL", 42, 1.0, 2.0)],
            "name string, grmn_type string, link_id bigint, lon double, lat double",
        )
        out = conform_to_layer(df, "roads")
        assert out.columns[:2] == ["NAME", "GRMN_TYPE"]
        assert out.columns[-2:] == ["lon", "lat"]
        row = out.first()
        assert row.NAME == "Main St" and row.LINK_ID == 42
        assert row.SPD_LIMIT is None  # missing → NULL
        write_layers({"roads": df}, str(tmp_path / "layers"))
        back = spark.read.parquet(str(tmp_path / "layers" / "roads"))
        assert back.count() == 1 and "ACC_MASK" in back.columns


# the osm2mp reference checkout, expected beside this repository
POLISH_MP_CFG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference", "cfg", "polish-mp",
)


@pytest.mark.skipif(
    not os.path.isdir(POLISH_MP_CFG),
    reason="the osm2mp reference checkout's cfg/polish-mp pack is absent; "
    "the inline-YAML cfg_dispatch gate still covers the loader",
)
class TestFeatureConfigLoader:
    """functions.config parses the REFERENCE'S real cfg files."""

    def test_parses_all_polish_mp_configs(self):
        import glob

        from osm2mp_spark.functions.config import (
            config_tag_keys,
            load_feature_config,
        )

        total = 0
        keys = set()
        for path in sorted(glob.glob(f"{POLISH_MP_CFG}/*.yml")):
            sections = load_feature_config(path)
            n = sum(len(rs.rules) for rs in sections.values())
            assert n > 0, path
            total += n
            keys |= config_tag_keys(sections)
        assert total > 150  # the polish-mp pack is the real workload
        assert {"highway", "railway", "amenity", "landuse"} <= keys

    def test_real_config_compiles_and_dispatches(self, spark):
        from osm2mp_spark.functions.config import (
            config_tag_keys,
            load_feature_config,
        )

        sections = load_feature_config(
            f"{POLISH_MP_CFG}/nodes-common-univ.yml"
        )
        rs = sections["nodes"]
        keys = sorted(config_tag_keys(sections) - {"obj_kind"})
        # frame with every referenced tag column (string) + obj_kind
        row1 = {k: None for k in keys}
        row1.update({"amenity": "grave_yard"})
        row2 = {k: None for k in keys}
        row2.update({"railway": "level_crossing"})
        row3 = {k: None for k in keys}  # matches nothing
        import pandas as pd

        pdf = pd.DataFrame([row1, row2, row3]).astype("object")
        pdf["obj_kind"] = "Node"
        pdf["oid"] = [1, 2, 3]
        df = spark.createDataFrame(pdf)
        out = rs.dispatch_all(df, ["oid"]).toPandas()
        # grave_yard → 0x6403, level_crossing → 0x6406
        # (cfg/polish-mp/nodes-common-univ.yml)
        assert set(out[out.oid == 1].type) == {"0x6403"}
        assert set(out[out.oid == 2].type) == {"0x6406"}
        assert (out.oid != 3).all()


class TestPolishRenderers:
    def test_road_section_golden(self):
        from osm2mp_spark.plans.sinks import render_mp_road

        txt = render_mp_road({
            "chain": [(30.5, 59.25), (30.6, 59.26)],
            "road_id": 7,
            "oneway": 1,
            "speed": 90,
            "road_class": 3,
            "toll": 0,
            "access_flags": "0,0,0,0,0,0,0,0",
            "type": "0x05",
            "name": "Main St",
            "refs": ["M4", "E95"],
            "road_ref": "~[0x05]",
            "nod": [(0, 100, 0), (1, 101, 0)],
        })
        assert "[POLYLINE]" in txt
        assert "Data0=(59.25000,30.50000),(59.26000,30.60000)" in txt
        assert "RoadID=7" in txt and "DirIndicator=1" in txt
        assert "RouteParams=5,3,1,0,0,0,0,0,0,0,0,0" in txt
        # refs prefix rule: road_ref + sorted-unique refs + ' ' + name
        assert "Label=~[0x05]E95-M4 Main St" in txt
        assert "Nod0=0,100,0" in txt and "Nod1=1,101,0" in txt
        assert txt.rstrip().endswith("[END]")

    def test_polygon_with_hole_and_entrance(self):
        from osm2mp_spark.plans.sinks import render_mp_polygon

        txt = render_mp_polygon({
            "contours": [
                [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0)],
                [(0.2, 0.2), (0.4, 0.2), (0.4, 0.4)],
            ],
            "type": "0x13",
            "name": "Block",
            "level_l": 0,
            "entrance": [((0.5, 0.0), "main")],
        })
        assert txt.count("Data0=") == 2
        assert "EntryPoint=(0.00000,0.50000),main" in txt

    def test_restriction_and_common_label_override(self):
        from osm2mp_spark.plans.sinks import (
            render_mp_polyline,
            render_mp_restriction,
        )

        r = render_mp_restriction({
            "node_from": 1, "node_via": 2, "node_to": 3,
            "road_from": 10, "road_to": 11, "param": "0,0,0,0,0,1,0,0",
        })
        assert "TraffPoints=1,2,3" in r and "TraffRoads=10,11" in r
        assert "RestrParam=0,0,0,0,0,1,0,0" in r
        assert r.rstrip().endswith("[END-Restrict]")

        p = render_mp_polyline({
            "chain": [(1.0, 2.0), (3.0, 4.0)],
            "type": "0x01",
            "name": "ignored",
            "level_l": 1,
            "level_h": 3,
            "extra_fields": {"Label": "override", "StreetDesc": "X"},
        })
        assert "Data1=" in p and "EndLevel=3" in p
        assert "Label=override" in p and "StreetDesc=X" in p
        assert "ignored" not in p


class TestConfigPresetsAndSign:
    def test_presets_section_expands(self):
        from osm2mp_spark.functions.config import load_feature_config

        text = """
--- presets
---
contacts:
  phone: '%phone_tag'
  web: example.org

--- objects
---
- condition:
    - amenity = cafe
  action:
    - action: write_poi
      type: '0x2a00'
      contacts: 1
      extra_fields:
        web: '%website'
"""
        rs = load_feature_config(text)["objects"]
        attrs = rs.rules[0].actions
        assert attrs["phone"] == "%phone_tag"
        assert attrs["web"] == "%website"  # action extra_fields override

    def test_destination_sign_golden(self):
        from osm2mp_spark.plans.sinks import render_mp_destination_sign

        txt = render_mp_destination_sign({
            "node_from": 1, "node_via": 2, "node_to": 3,
            "road_from": 7, "road_to": 8, "param": "T,Centre",
        })
        assert "SignPoints=1,2,3" in txt and "SignRoads=7,8" in txt
        assert "SignParam=T,Centre" in txt
        assert txt.rstrip().endswith("[END-Sign]")


class TestGateBackedRenderParity:
    """The JVM-side renderer queries (queries/render.py) must produce the
    exact strings plans.sinks' Python renderers produce for the same data —
    the DuckDB gate then transitively covers the sink format."""

    def test_poi_sections_match_python_renderer(self, spark):
        import __spark_entry__ as E
        from osm2mp_spark.plans.sinks import render_mp_points

        got = (
            E.queries()["mp_poi_render"](spark, "/root/testdata/sf0.001")
            .orderBy("point_id").limit(5).toPandas()
        )
        pts = (
            spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
            .selectExpr("CAST(c_custkey AS BIGINT) AS point_id", "c_name")
        )
        from osm2mp_spark.sources.points import with_derived_position

        ref = with_derived_position(pts, "point_id").orderBy("point_id") \
            .limit(5).toPandas()
        for row, want in zip(got.itertuples(), ref.itertuples()):
            code = 256 + int(want.point_id) % 11 * 256
            assert row.mp == render_mp_points(
                [(code, want.c_name, want.lon, want.lat)]
            )

    def test_polyline_sections_match_python_renderer(self, spark):
        import __spark_entry__ as E
        from osm2mp_spark.plans.sinks import render_mp_polyline
        from osm2mp_spark.queries.spatial import lineitem_chain_points

        got = (
            E.queries()["mp_polyline_render"](spark, "/root/testdata/sf0.001")
            .orderBy("chain_id").limit(4).toPandas()
        )
        pts = lineitem_chain_points(spark, "/root/testdata/sf0.001").toPandas()
        for row in got.itertuples():
            sub = pts[pts.chain_id == row.chain_id].sort_values("seq")
            lvl_h = int(row.chain_id) % 4
            data = {
                "chain": list(zip(sub.lon, sub.lat)),
                "type": f"0x{2 + int(row.chain_id) % 6:x}",
                "name": f"chain {row.chain_id}",
                "level_l": 0,
                "level_h": lvl_h,
            }
            assert row.mp == render_mp_polyline(data)

    def test_road_sections_match_python_renderer(self, spark):
        import __spark_entry__ as E
        from osm2mp_spark.plans.sinks import render_mp_road
        from osm2mp_spark.queries.spatial import lineitem_chain_points

        got = (
            E.queries()["mp_road_render"](spark, "/root/testdata/sf0.001")
            .orderBy("chain_id").limit(4).toPandas()
        )
        pts = lineitem_chain_points(spark, "/root/testdata/sf0.001").toPandas()
        for row in got.itertuples():
            cid = int(row.chain_id)
            sub = pts[pts.chain_id == cid].sort_values("seq")
            data = {
                "chain": list(zip(sub.lon, sub.lat)),
                "road_id": cid,
                "oneway": cid % 2,
                "speed": cid % 141,
                "road_class": cid % 5,
                "toll": 1 if cid % 3 == 0 else 0,
                "access_flags": "0,0,0,0,0,0,0,0",
                "type": f"0x{2 + cid % 6:x}",
                "name": f"road {cid}",
                "level_l": 0,
                "nod": [(0, cid * 2), (len(sub) - 1, cid * 2 + 1)],
            }
            assert row.mp == render_mp_road(data)

    def test_polygon_restriction_sign_match_python_renderer(self, spark):
        import numpy as np

        import __spark_entry__ as E
        from osm2mp_spark.plans.sinks import (
            render_mp_destination_sign,
            render_mp_polygon,
            render_mp_restriction,
        )
        from osm2mp_spark.queries.render import _PG_HOLE, _PG_OUTER
        from osm2mp_spark.sources.points import derived_points_np

        sf = "/root/testdata/sf0.001"

        def ring(pid, offs):
            lon, lat = derived_points_np(np.array([pid + o for o in offs]))
            pts = list(zip(lon, lat))
            return pts + [pts[0]]

        got = (E.queries()["mp_polygon_render"](spark, sf)
               .orderBy("poly_id").limit(6).toPandas())
        for r in got.itertuples():
            pid = int(r.poly_id)
            contours = [ring(pid, _PG_OUTER)]
            if pid % 4 == 0:
                contours.append(ring(pid, _PG_HOLE))
            lon, lat = derived_points_np(np.array([pid]))
            data = {
                "contours": contours,
                "type": f"0x{19 + pid % 3:x}",
                "name": f"area {pid}",
                "level_l": 0,
                "entrance": (
                    [((float(lon[0]), float(lat[0])), 1)]
                    if pid % 5 == 0 else None
                ),
            }
            assert r.mp == render_mp_polygon(data)

        got = (E.queries()["mp_restriction_render"](spark, sf)
               .orderBy("rel_id").limit(5).toPandas())
        for r in got.itertuples():
            k = int(r.rel_id)
            opts = {
                "node_from": k * 3, "node_via": k * 3 + 1, "node_to": k * 3 + 2,
                "road_from": k * 2, "road_to": k * 2 + 1,
                "param": "0,1,1,1" if k % 4 == 0 else None,
            }
            assert r.mp == render_mp_restriction(opts)

        got = (E.queries()["mp_sign_render"](spark, sf)
               .orderBy("rel_id").limit(5).toPandas())
        for r in got.itertuples():
            k = int(r.rel_id)
            opts = {
                "node_from": k * 3, "node_via": k * 3 + 1, "node_to": k * 3 + 2,
                "road_from": k * 2, "road_to": k * 2 + 1,
                "param": f"T,exit {k % 50}",
            }
            assert r.mp == render_mp_destination_sign(opts)
