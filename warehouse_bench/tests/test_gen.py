"""Same seed, same input bytes; another seed, other bytes."""

from __future__ import annotations

import hashlib
import os

from warehouse_bench import gen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(root):
        for n in sorted(names):
            path = os.path.join(d, n)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _inputs(root: str, seed: int) -> dict[str, str]:
    batches = [gen.client_batch(str(root), f"client{i + 1}", i, seed, 600) for i in range(2)]
    for m in batches:
        m.pop("dir")
    gen.write_manifest(os.path.join(root, "manifest.json"), batches)
    gen.star_tables(os.path.join(root, "star"), seed, 2_000)
    deck = gen.query_deck([f"g{i}" for i in range(40)])
    digest = _digest(str(root))
    digest["draws"] = ",".join(gen.query_sequence(seed, deck, 3))
    return digest


def test_same_seed_same_bytes(tmp_path):
    assert _inputs(tmp_path / "a", 7) == _inputs(tmp_path / "b", 7)


# fixed reference data: the product categories and the TPC-H regions/nations
CONSTANT = ("PX_CAT_G1V2_b0000.csv", "region.parquet", "nation.parquet")


def test_other_seed_other_bytes(tmp_path):
    a, b = _inputs(tmp_path / "a", 7), _inputs(tmp_path / "b", 8)
    assert a.keys() == b.keys()
    for k in a:
        if k.endswith(CONSTANT):
            assert a[k] == b[k], k
        elif k.endswith((".csv", ".parquet")):
            assert a[k] != b[k], k
    assert a["draws"] != b["draws"]


def test_clients_differ_within_a_seed(tmp_path):
    one = gen.client_batch(str(tmp_path), "client1", 0, 7, 600)
    two = gen.client_batch(str(tmp_path), "client2", 1, 7, 600)
    sales = "sales_details_b0000.csv"
    with open(os.path.join(one["dir"], "crm", "incoming", sales)) as f1, open(
        os.path.join(two["dir"], "crm", "incoming", sales)
    ) as f2:
        assert f1.read() != f2.read()


def test_manifest_counts_match_files(tmp_path):
    m = gen.client_batch(str(tmp_path), "client1", 0, 3, 1_000)
    for name, entry in m["files"].items():
        system = "crm" if name.startswith(("cust_info", "prd_info", "sales")) else "erp"
        with open(os.path.join(m["dir"], system, "incoming", name)) as f:
            assert sum(1 for _ in f) - 1 == entry["rows"]
    assert m["expected"]["gold"]["fact_sales"] == 1_000
    assert sum(m["dirt"].values()) > 0


def test_deck_follows_popularity():
    pool = [f"g{i}" for i in range(40)]
    deck = gen.query_deck(pool)
    counts = [deck.count(q) for q in pool]
    assert len(deck) == gen.DECK
    assert counts[0] > 1  # the head repeats
    assert counts == sorted(counts, reverse=True)  # never more than a better rank
    rounds = gen.query_sequence(5, deck, 3)
    for k in range(3):  # every round is the whole deck, reordered
        assert sorted(rounds[k * gen.DECK:(k + 1) * gen.DECK]) == sorted(deck)
