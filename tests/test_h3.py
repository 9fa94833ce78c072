"""Tests for the from-scratch TRUE Uber-H3 implementation
(functions/h3.py + the tools/h3_tablegen.py-derived base-cell lookup).

The trig-free int core is driver-gated (entry.q_tile_h3); these tests
pin the published example cells (the fidelity anchor the gate cannot
see), the global structural guarantees, and the Spark operator."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from linear_kdtree_spark.functions import h3, h3_geom
from linear_kdtree_spark.functions.h3_tables import (
    BASE_CELL_DATA,
    NUM_BASE_CELLS,
    PENTAGONS,
)

SF_LAT, SF_LNG = 37.7752702151959257, -122.418307270836


def _sample(n=200_000, seed=17):
    rng = np.random.default_rng(seed)
    z = rng.uniform(-1.0, 1.0, n)
    lat = np.rad2deg(np.arcsin(z))
    lng = rng.uniform(-180.0, 180.0, n)
    return lat, lng


def test_published_example_cells():
    """h3-py README / h3geo.org docs example: the San Francisco point at
    each documented resolution, and cellToParent truncation."""
    expect = {
        0: "8029fffffffffff",
        1: "81283ffffffffff",
        2: "822837fffffffff",
        5: "85283083fffffff",
        9: "8928308280fffff",
    }
    for res, want in expect.items():
        got = h3.h3_to_string(h3.latlng_to_cell_scalar(SF_LAT, SF_LNG, res))
        assert got == want, (res, got, want)
    c9 = h3.latlng_to_cell_scalar(SF_LAT, SF_LNG, 9)
    assert h3.h3_to_string(int(h3.cell_to_parent([c9], 8)[0])) == \
        "8828308281fffff"


def test_scalar_vectorized_agree():
    """The scalar wrapper gives the vectorized cell, and every cell's
    centre, found by the independent inverse walk
    (``h3_geom.cell_to_latlng``), maps back to that cell."""
    lat, lng = _sample(2000, seed=3)
    for res in (0, 1, 7, 15):
        vec = h3.latlng_to_cell(lat, lng, res)
        for idx in (0, 17, 999, 1999):
            assert vec[idx] == h3.latlng_to_cell_scalar(
                float(lat[idx]), float(lng[idx]), res)
        back = h3.latlng_to_cell(*h3_geom.cell_to_latlng(vec), res)
        assert np.array_equal(back, vec), (res, int((back != vec).sum()))


def test_global_cell_counts_exact():
    """The defining structural invariant: dense global sampling produces
    exactly the enumerable id sets — 2 + 120*7^r cells, 12 pentagons."""
    lat, lng = _sample(400_000)
    for res, expect in ((0, 122), (1, 842), (2, 5882)):
        ids = h3.latlng_to_cell(lat, lng, res)
        u = np.unique(ids)
        assert len(u) == expect, (res, len(u))
        assert int(h3.is_pentagon(u).sum()) == 12
        assert (h3.cell_resolution(u) == res).all()
        # mode bits: canonical H3 indexes are positive, < 2^60
        assert (u > 0).all() and (u < (1 << 60)).all()


def test_no_deleted_k_subsequence_ids():
    """Ids whose leading nonzero digit is K on a pentagon base cell do
    not exist (h3 deleted-subsequence invariant)."""
    lat, lng = _sample(300_000, seed=23)
    for res in (1, 2, 3):
        ids = np.unique(h3.latlng_to_cell(lat, lng, res))
        bc = h3.cell_base(ids)
        pent = np.isin(bc, list(PENTAGONS))
        lead = np.zeros(len(ids), dtype=np.int64)
        for r in range(1, res + 1):
            d = (ids >> (45 - 3 * r)) & 0x7
            lead = np.where((lead == 0) & (d != 0), d, lead)
        assert not ((pent) & (lead == h3.K_DIGIT)).any()


def test_parent_containment_mostly():
    """cellToParent(child(res+1)) == cell(res) for all but boundary
    points (H3 children straddle parent boundaries, unlike the engine's
    exact-nesting hexgrid)."""
    lat, lng = _sample(100_000, seed=5)
    ids2 = h3.latlng_to_cell(lat, lng, 2)
    ids1 = h3.latlng_to_cell(lat, lng, 1)
    agree = (h3.cell_to_parent(ids2, 1) == ids1).mean()
    assert agree > 0.85


def test_resolution_prefix_stability():
    """Digits 1..r of a res-15 id equal the res-r id digits (coarse
    digits do not depend on the target resolution) for interior points."""
    lat, lng = _sample(20_000, seed=9)
    ids15 = h3.latlng_to_cell(lat, lng, 15)
    ids4 = h3.latlng_to_cell(lat, lng, 4)
    same = (h3.cell_to_parent(ids15, 4) == ids4).mean()
    assert same > 0.90


def test_base_cell_data_shape():
    assert NUM_BASE_CELLS == 122
    assert len(BASE_CELL_DATA) == 122
    assert len(PENTAGONS) == 12
    # every pentagon's home coordinate is the (2,0,0) face corner
    for bc in PENTAGONS:
        assert BASE_CELL_DATA[bc][1] == (2, 0, 0)
    # cw-offset faces are set exactly for the 10 non-polar pentagons
    with_offsets = {bc for bc in PENTAGONS
                    if BASE_CELL_DATA[bc][3] != (-1, -1)}
    assert len(with_offsets) == 10


def test_string_roundtrip():
    c = h3.latlng_to_cell_scalar(SF_LAT, SF_LNG, 9)
    assert h3.string_to_h3(h3.h3_to_string(c)) == c


def test_out_of_range_res_raises():
    with pytest.raises(ValueError):
        h3.latlng_to_cell([0.0], [0.0], 16)


@pytest.mark.usefixtures("spark")
def test_assign_tiles_h3_spark(spark):
    from linear_kdtree_spark.operators.tile import assign_tiles_h3

    lat, lng = _sample(3000, seed=41)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lat, lng)], "y double, x double"
    )
    out = assign_tiles_h3(df, 7, as_string=True).collect()
    ref = h3.latlng_to_cell(lat, lng, 7)
    got = np.array([r.h3_cell for r in out], dtype=np.int64)
    # Spark may reorder; compare as multisets
    assert sorted(got.tolist()) == sorted(ref.tolist())
    row = out[0]
    assert row.h3_cell_str == h3.h3_to_string(row.h3_cell)


@pytest.mark.usefixtures("spark")
def test_h3_trig_free_core_spark(spark):
    """The gate's operator: (face, hex2d x, y) -> id, Spark vs numpy."""
    from linear_kdtree_spark.operators.tile import h3_cells_from_face_hex2d

    rng = np.random.default_rng(13)
    n = 4000
    face = rng.integers(0, 20, n)
    res = 5
    scale = 2.6457513110645905905016157536392604257102 ** res
    r = rng.uniform(0, 1.4, n) * scale
    t = rng.uniform(0, 2 * np.pi, n)
    x = r * np.cos(t)
    y = r * np.sin(t)
    df = spark.createDataFrame(
        [(int(f), float(a), float(b)) for f, a, b in zip(face, x, y)],
        "face long, hx double, hy double",
    )
    out = h3_cells_from_face_hex2d(df, res).orderBy("face", "hx").collect()
    ref = h3.face_hex2d_to_cell(face, x, y, res)
    assert sorted(int(r2.h3_cell) for r2 in out) == sorted(ref.tolist())


@pytest.mark.usefixtures("spark")
def test_h3_parent_col_matches_numpy(spark):
    from linear_kdtree_spark.operators.tile import (
        assign_tiles_h3,
        h3_parent_col,
    )

    lat, lng = _sample(2000, seed=51)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lat, lng)], "y double, x double"
    )
    out = (
        assign_tiles_h3(df, 9)
        .withColumn("parent", h3_parent_col(F.col("h3_cell"), 4))
        .collect()
    )
    import numpy as np
    got_child = np.array([r.h3_cell for r in out], dtype=np.int64)
    got_parent = np.array([r.parent for r in out], dtype=np.int64)
    want_parent = h3.cell_to_parent(got_child, 4)
    assert (got_parent == want_parent).all()
    assert (h3.cell_resolution(got_parent) == 4).all()


def test_compact_uncompact_roundtrip():
    # full descendant set of one hexagon base cell collapses to it
    bc16 = h3.latlng_to_cell_scalar(
        *map(float, np.rad2deg([0.803582649718989942, 1.248397419617396099])),
        0,
    )  # a res-0 cell (face-1 area); use any: recompute from its id
    full = h3.uncompact_cells([bc16], 2)
    pent = bool(h3.is_pentagon([bc16])[0])
    assert len(full) == (41 if pent else 49)
    back = h3.compact_cells(full)
    assert back.tolist() == [bc16]
    # partial set stays partial at the right places
    part = full[:-1]
    comp = h3.compact_cells(part)
    assert len(comp) > 1
    again = h3.uncompact_cells(comp, 2)
    assert sorted(again.tolist()) == sorted(part.tolist())


def test_compact_pentagon_subtree():
    # pentagon base cell 4: res-1 children = 6 (K deleted), res-2 = 41
    pent_cell = (1 << 59) | (0 << 52) | (4 << 45) | ((1 << 45) - 1)
    kids = h3.uncompact_cells([pent_cell], 1)
    assert len(kids) == 6
    assert h3.compact_cells(kids).tolist() == [pent_cell]
    deep = h3.uncompact_cells([pent_cell], 2)
    assert len(deep) == 41
    assert h3.compact_cells(deep).tolist() == [pent_cell]
