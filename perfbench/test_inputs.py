"""The benchmark's input generators are pure functions of the seed.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import csv
import hashlib
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_gdp  # noqa: E402
import gen_graph  # noqa: E402
import gen_tables  # noqa: E402


def _digests(directory: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


def test_gdp_inputs_are_byte_identical_per_seed(tmp_path):
    for run in ("a", "b"):
        gen_gdp.GdpRelease(7).write(str(tmp_path / run))
    gen_gdp.GdpRelease(8).write(str(tmp_path / "other"))
    a, b, other = (_digests(str(tmp_path / d)) for d in ("a", "b", "other"))
    assert a == b
    assert a != other


def test_gdp_inputs_have_the_fixture_shapes(tmp_path):
    rel = gen_gdp.GdpRelease(7)
    rel.write(str(tmp_path))
    with open(tmp_path / "hierarchy.csv") as fh:
        hier = list(csv.DictReader(fh))
    parents = {r["Parent_Code"] for r in hier}
    children = {r["Child_Code"] for r in hier}
    assert 2000 <= len(hier) <= 2400
    assert len(parents & children) >= 40                     # nested groups
    assert any(r["Parent_Label"] == "Other territories" and r["Child_IsTarget"] == "False"
               for r in hier)
    with open(tmp_path / "dim_countries.csv") as fh:
        dim = {r["Code"]: r for r in csv.DictReader(fh)}
    assert dim[gen_gdp.CZECHOSLOVAKIA]["ValidTo"] == "1992"  # dissolved economy
    assert all(len(c) in (3, 4) and c.isdigit() for c in dim)  # zero-padded codes
    with open(tmp_path / "growth_rates.csv") as fh:
        growth = {r["UNCTcc"] for r in csv.DictReader(fh)}
    assert gen_gdp.USA_GROWTH_ALIAS in growth and gen_gdp.USA not in growth
    with open(tmp_path / "deflators.csv") as fh:
        defl = {(r["Country_Code"], r["Year"]) for r in csv.DictReader(fh)}
    assert (gen_gdp.NO_BASE_YEAR_ECONOMY, "2015") not in defl
    assert (gen_gdp.NO_BASE_YEAR_ECONOMY, "2014") in defl
    # about 300 economies and groups x 55 years x 2 variables
    assert 30_000 <= len(rel.expected_update) <= 45_000


def test_tables_are_byte_identical_per_seed(tmp_path):
    for run in ("a", "b"):
        gen_tables.write_tables(gen_tables.make_tables(3, 0.001, 200, 100), str(tmp_path / run))
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))


def test_graphs_are_identical_per_seed_and_known_by_construction():
    g1, g2 = gen_graph.pair_graph(5, 5000), gen_graph.pair_graph(5, 5000)
    assert np.array_equal(g1["pairs"], g2["pairs"])
    assert np.array_equal(g1["labels"], g2["labels"])
    # every component label is the minimum id reachable through the pairs
    parent = {int(n): int(n) for n in g1["nodes"]}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in g1["pairs"]:
        ra, rb = find(int(a)), find(int(b))
        parent[max(ra, rb)] = min(ra, rb)
    assert all(find(int(n)) == int(lab) for n, lab in zip(g1["nodes"], g1["labels"]))

    f1, f2 = gen_graph.deep_forest(5, 3000, 4), gen_graph.deep_forest(5, 3000, 4)
    assert np.array_equal(f1["edges"], f2["edges"])
    children: dict[int, list[int]] = {}
    for p, c in f1["edges"]:
        children.setdefault(int(p), []).append(int(c))

    def leaves(n):
        kids = children.get(n)
        return [n] if not kids else [x for k in kids for x in leaves(k)]

    expected = sorted((p, leaf) for p in children for leaf in leaves(p))
    assert [tuple(map(int, r)) for r in f1["closure"]] == expected
