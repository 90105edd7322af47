"""Topology parsers: PDB and GRO → the topology dimension table.

The reference's ``load(traj_file, top=...)`` parses a topology file
eagerly via mdtraj (core/dask_traj.py:80-83) and hangs the object on
the Trajectory; our topology is a small broadcastable DataFrame
(SURVEY.md §1.4: ``topology(atom_id, name, element, mass,
residue_id, residue_name, chain_id)``). Pure-text parsing from the
public format specs — fixed columns for PDB ATOM/HETATM records,
fixed columns for GRO. Masses come from a standard-atomic-weight
table keyed by element symbol; elements are taken from PDB columns
77-78 when present, else inferred from the atom name.

PDB *as a trajectory source* stays NotImplementedError — reference
parity (its ``file_returns`` lists ``.pdb`` as unimplemented,
core/dask_traj.py:167-169). Only the ``top=`` path uses these.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from dask_traj_spark import schemas
from dask_traj_spark.sources._arrow import gather_host

# standard atomic weights (u), most-common elements in MD systems
ATOMIC_MASS = {
    "H": 1.008, "D": 2.014, "HE": 4.0026, "LI": 6.94, "BE": 9.0122,
    "B": 10.81, "C": 12.011, "N": 14.007, "O": 15.999, "F": 18.998,
    "NE": 20.18, "NA": 22.99, "MG": 24.305, "AL": 26.982, "SI": 28.085,
    "P": 30.974, "S": 32.06, "CL": 35.45, "AR": 39.948, "K": 39.098,
    "CA": 40.078, "MN": 54.938, "FE": 55.845, "CO": 58.933, "NI": 58.693,
    "CU": 63.546, "ZN": 65.38, "SE": 78.971, "BR": 79.904, "I": 126.9,
}


def _element_from_name(name: str) -> str:
    """Infer the element from an atom name (first alphabetic char,
    two-letter check against the mass table)."""
    alpha = "".join(ch for ch in name if ch.isalpha())
    if not alpha:
        return ""
    two = alpha[:2].upper()
    if two in ATOMIC_MASS and two not in ("CA",):  # CA in proteins = Cα carbon
        return two.capitalize()
    return alpha[0].upper()


def parse_topology_pdb(path: str) -> pd.DataFrame:
    """PDB ATOM/HETATM records (fixed columns) → topology rows.
    Stops at the end of the first MODEL."""
    rows = []
    chain_ids: dict[str, int] = {}
    atom_id = 0
    with open(path) as f:
        for line in f:
            rec = line[:6]
            if rec == "ENDMDL":
                break
            if rec not in ("ATOM  ", "HETATM"):
                continue
            name = line[12:16].strip()
            res_name = line[17:20].strip()
            chain = line[21]
            res_id = int(line[22:26])
            element = line[76:78].strip() if len(line) >= 78 else ""
            if not element:
                element = _element_from_name(name)
            if chain not in chain_ids:
                chain_ids[chain] = len(chain_ids)
            rows.append(
                (
                    atom_id,
                    name,
                    element.capitalize(),
                    ATOMIC_MASS.get(element.upper(), 0.0),
                    res_id,
                    res_name,
                    chain_ids[chain],
                )
            )
            atom_id += 1
    return pd.DataFrame(
        rows,
        columns=[
            "atom_id", "name", "element", "mass",
            "residue_id", "residue_name", "chain_id",
        ],
    )


def parse_topology_gro(path: str) -> pd.DataFrame:
    """GRO fixed columns (resid 0:5, resname 5:10, atomname 10:15)
    → topology rows (single chain; element inferred from name)."""
    rows = []
    with open(path) as f:
        f.readline()  # title
        n = int(f.readline().strip())
        for atom_id in range(n):
            line = f.readline()
            res_id = int(line[0:5])
            res_name = line[5:10].strip()
            name = line[10:15].strip()
            element = _element_from_name(name)
            rows.append(
                (
                    atom_id,
                    name,
                    element.capitalize(),
                    ATOMIC_MASS.get(element.upper(), 0.0),
                    res_id,
                    res_name,
                    0,
                )
            )
    return pd.DataFrame(
        rows,
        columns=[
            "atom_id", "name", "element", "mass",
            "residue_id", "residue_name", "chain_id",
        ],
    )


def load_topology(spark: SparkSession, path: str) -> DataFrame:
    """Parse a .pdb or .gro topology file into the broadcastable
    topology dimension DataFrame."""
    low = path.lower()
    if low.endswith(".pdb"):
        pdf = parse_topology_pdb(path)
    elif low.endswith(".gro"):
        pdf = parse_topology_gro(path)
    else:
        raise NotImplementedError(f"topology format not supported: {path}")
    return spark.createDataFrame(pdf, schema=schemas.TOPOLOGY_SCHEMA)


def write_pdb(traj, path: str) -> None:
    """Sink: driver-side multi-MODEL PDB export (the reference can
    parse but never write PDB; SURVEY.md S11). Fixed-column ATOM
    records (coords in Å — PDB convention — from our nm), CRYST1
    from the unitcell lengths/angles of frame 0, one MODEL/ENDMDL
    block per frame. Topology supplies names when present."""
    import numpy as np

    host = gather_host(traj)
    xyz = host.xyz
    n_frames, n_atoms, _ = xyz.shape
    ang = xyz.astype(np.float64) * 10.0  # nm → Å
    names = [("X", "MOL", 1, "A", "C")] * n_atoms
    if traj.topology is not None:
        trows = (
            traj.topology.select(
                "atom_id", "name", "residue_id", "residue_name", "chain_id",
                "element",
            )
            .orderBy("atom_id")
            .collect()
        )
        if len(trows) == n_atoms:
            names = [
                (
                    r.name or "X",
                    (r.residue_name or "MOL")[:3],
                    int(r.residue_id) + 1,
                    chr(ord("A") + int(r.chain_id) % 26),
                    (r.element or "C")[:2],
                )
                for r in trows
            ]
    cryst = None
    if host.cell is not None:
        a, b, c, alpha, beta, gamma = (float(v) for v in host.cell[0])
        cryst = (
            f"CRYST1{a * 10:9.3f}{b * 10:9.3f}{c * 10:9.3f}"
            f"{alpha:7.2f}{beta:7.2f}{gamma:7.2f} P 1           1\n"
        )
    with open(path, "w") as f:
        if cryst:
            f.write(cryst)
        for fid in range(n_frames):
            f.write(f"MODEL     {fid + 1:4d}\n")
            for a in range(n_atoms):
                nm, res, rid, ch, el = names[a]
                pad_nm = f" {nm:<3s}" if len(nm) < 4 else nm[:4]
                f.write(
                    f"ATOM  {(a + 1) % 100000:5d} {pad_nm}"
                    f" {res:>3s} {ch}{rid % 10000:4d}    "
                    f"{ang[fid, a, 0]:8.3f}{ang[fid, a, 1]:8.3f}"
                    f"{ang[fid, a, 2]:8.3f}{1.0:6.2f}{0.0:6.2f}"
                    f"          {el.upper():>2s}\n"
                )
            f.write("ENDMDL\n")
