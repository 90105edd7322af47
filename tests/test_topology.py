"""Topology parsers (PDB/GRO) + the load(top=...) path, validated
against the reference's own test.pdb/test.xtc fixture pair."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

REF_PDB = "/root/reference/dask_traj/tests/test.pdb"
REF_XTC = "/root/reference/dask_traj/tests/test.xtc"

needs_fixture = pytest.mark.skipif(
    not (os.path.exists(REF_PDB) and os.path.exists(REF_XTC)),
    reason="reference fixture not present",
)


@needs_fixture
def test_parse_reference_pdb():
    from dask_traj_spark.sources.topology import parse_topology_pdb

    pdf = parse_topology_pdb(REF_PDB)
    assert len(pdf) == 2722
    assert list(pdf["atom_id"]) == list(range(2722))
    first = pdf.iloc[0]
    assert (first["name"], first["element"], first["residue_name"]) == (
        "N", "N", "MET"
    )
    assert abs(first["mass"] - 14.007) < 1e-9
    assert (pdf["mass"] > 0).all()  # every element resolved


@needs_fixture
def test_load_xtc_with_pdb_topology(spark):
    import dask_traj_spark as dts

    traj = dts.load(spark, REF_XTC, top=REF_PDB, chunks=50)
    assert traj.topology is not None
    assert traj.topology.count() == traj.n_atoms == 2722
    # mass-weighted COM with REAL masses runs end-to-end
    com = dts.compute_center_of_mass(traj).orderBy("frame_id").first()
    assert np.isfinite([com["x"], com["y"], com["z"]]).all()


@needs_fixture
def test_topology_atom_count_mismatch_raises(spark, tmp_path):
    import dask_traj_spark as dts
    from dask_traj_spark.sources.loaders import from_wide_pandas
    from dask_traj_spark.sources.trr import write_trr

    xyz = np.zeros((2, 5, 3), dtype=np.float32)
    p = str(tmp_path / "t.trr")
    write_trr(from_wide_pandas(spark, xyz, time=np.arange(2.0)), p)
    with pytest.raises(ValueError, match="topology has"):
        dts.load(spark, p, top=REF_PDB)


def test_parse_gro(spark, tmp_path):
    from dask_traj_spark.sources.topology import load_topology

    g = tmp_path / "w.gro"
    g.write_text(
        "water\n"
        "    3\n"
        "    1SOL     OW    1   0.230   0.628   0.113\n"
        "    1SOL    HW1    2   0.137   0.626   0.150\n"
        "    1SOL    HW2    3   0.231   0.589   0.021\n"
        "   1.82060   1.82060   1.82060\n"
    )
    tdf = load_topology(spark, str(g))
    rows = tdf.orderBy("atom_id").collect()
    assert [r["name"] for r in rows] == ["OW", "HW1", "HW2"]
    assert [r["element"] for r in rows] == ["O", "H", "H"]
    np.testing.assert_allclose(
        [r["mass"] for r in rows], [15.999, 1.008, 1.008]
    )
    assert rows[0]["residue_name"] == "SOL"


def test_unknown_topology_format_raises(spark):
    from dask_traj_spark.sources.topology import load_topology

    with pytest.raises(NotImplementedError):
        load_topology(spark, "/tmp/top.xml")


def test_pdb_write_parse_round_trip(spark, traj_triclinic, tmp_path):
    """write_pdb → our own PDB topology parser recovers the atom
    dimension (names, residues, chains); CRYST1 carries the box."""
    from dask_traj_spark.sources.topology import load_topology, write_pdb

    sub = traj_triclinic.slice_frames(0, 2).atom_slice(list(range(25)))
    p = str(tmp_path / "rt.pdb")
    write_pdb(sub, p)

    top = load_topology(spark, p)
    assert top.count() == 25
    orig = {
        r.atom_id: (r.name, r.residue_name)
        for r in sub.topology.orderBy("atom_id").collect()
    }
    got = {
        r.atom_id: (r.name, r.residue_name)
        for r in top.orderBy("atom_id").collect()
    }
    assert got == {k: (v[0], v[1][:3]) for k, v in orig.items()}
    cryst = [ln for ln in open(p) if ln.startswith("CRYST1")]
    assert len(cryst) == 1 and "60.00" in cryst[0]
