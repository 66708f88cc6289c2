"""Property-based tests (SURVEY §5.2 item 4): idempotence and determinism
invariants of the conform/dedup layer, driver-side (no Spark needed for
the pure functions — fast hypothesis iteration)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pipelines_rj_sms_spark.functions.cleaning import (
    clean_column_name,
    dedupe_column_names,
)
from pipelines_rj_sms_spark.functions.dates import relative_date
from pipelines_rj_sms_spark.functions.keys import operator_key


@given(st.text(max_size=60))
@settings(max_examples=300, deadline=None)
def test_clean_column_name_idempotent(name):
    once = clean_column_name(name)
    assert clean_column_name(once) == once  # fixpoint
    assert once  # never empty
    # output alphabet is the safe set and never starts with a digit
    assert all(c.islower() or c.isdigit() or c == "_" for c in once)
    assert not once[0].isdigit()


@given(st.lists(st.text(alphabet="ab_1", min_size=1, max_size=6), max_size=20))
@settings(max_examples=200, deadline=None)
def test_dedupe_column_names_unique_and_stable(names):
    out = dedupe_column_names(names)
    assert len(out) == len(names)
    assert len(set(out)) == len(out)  # all unique
    # first occurrence of each name is preserved verbatim
    seen = set()
    for orig, new in zip(names, out):
        if orig not in seen:
            assert new == orig
            seen.add(orig)


@given(st.dictionaries(st.text(alphabet="abcdef", min_size=1, max_size=8),
                       st.text(alphabet="xyz123", max_size=8), max_size=8))
@settings(max_examples=200, deadline=None)
def test_operator_key_order_independent(kwargs):
    items = list(kwargs.items())
    a = operator_key(**dict(items))
    b = operator_key(**dict(reversed(items)))
    assert a == b  # sorted join -> argument order never matters


@given(st.integers(min_value=0, max_value=3650),
       st.dates(min_value=__import__("datetime").date(2000, 1, 2),
                max_value=__import__("datetime").date(2030, 12, 31)))
@settings(max_examples=200, deadline=None)
def test_relative_date_day_algebra(n, today):
    import datetime

    got = relative_date(f"D-{n}", today)
    assert (today - got).days == n
    assert relative_date("yesterday", today) == today - datetime.timedelta(days=1)
    m = relative_date(f"M-{n % 24}", today)
    assert m.day == 1  # month algebra truncates to period start


# ---- randomized equivalence: connected components vs pure union-find ----

def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min node id in the set
    comp = {}
    for n in nodes:
        root = find(n)
        comp.setdefault(root, []).append(n)
    return {n: min(members) for root, members in comp.items() for n in members}


@pytest.mark.slow
def test_connected_components_random_graphs_match_union_find(spark):
    import random

    from pipelines_rj_sms_spark.operators.dedup import connected_components

    rng = random.Random(42)
    for trial in range(3):
        n = 40
        nodes = list(range(n))
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(30)]
        edges = [(a, b) for a, b in edges if a != b]
        expect = _uf_components(edges, nodes)

        edf = spark.createDataFrame(edges or [(0, 0)], ["id_a", "id_b"])
        ndf = spark.createDataFrame([(x,) for x in nodes], ["node_id"])
        got = {r["node"]: r["component"] for r in
               connected_components(edf, nodes=ndf, node_col="node_id").collect()}
        assert got == expect, f"trial {trial}"


def test_winnow_recall_random_shared_substrings(spark):
    """Randomized recall check: inject a shared substring of length
    k+w-1 into otherwise-random documents — winnowing must always
    produce at least one shared fingerprint."""
    import random
    import string

    from pyspark.sql import functions as F

    from pipelines_rj_sms_spark.functions.text import winnow_fingerprints

    rng = random.Random(7)
    k, w = 8, 4

    def rand_text(n):
        return "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(n))

    rows = []
    for i in range(20):
        shared = rand_text(k + w - 1)
        rows.append((2 * i, rand_text(30) + shared + rand_text(30)))
        rows.append((2 * i + 1, rand_text(25) + shared + rand_text(35)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = df.select("doc_id",
                    winnow_fingerprints("text", k=k, w=w).alias("fps"))
    got = {r["doc_id"]: set(r["fps"]) for r in fps.collect()}
    for i in range(20):
        assert got[2 * i] & got[2 * i + 1], f"pair {i} missed"


@given(st.text(max_size=80), st.integers(min_value=8, max_value=40))
@settings(max_examples=200, deadline=None)
def test_shorten_column_name_bounded_idempotent(name, max_len):
    from pipelines_rj_sms_spark.functions.cleaning import shorten_column_name

    out = shorten_column_name(name, max_len=max_len)
    assert len(out) <= max_len
    # shortening an already-short name is the identity
    assert shorten_column_name(out, max_len=max_len) == out


def _flatten_lab(payloads):
    """Pure-python expectation for the fan_out lab spec: (sol rows,
    exame rows with sol FK, resultado rows with both FKs)."""
    sols, exames, results = [], [], []
    for p in payloads:
        sols.append((p["sol_id"], p["cpf"]))
        for ex in p["exames"]:
            exames.append((p["sol_id"], ex["exame_id"], ex["nome"]))
            for r in ex["resultados"]:
                results.append((p["sol_id"], ex["exame_id"],
                                r["analito"], r["valor"]))
    return sorted(sols), sorted(exames), sorted(results)


def test_fan_out_matches_pure_python_flattening(spark):
    import json
    import random

    from pyspark.sql.types import (ArrayType, DoubleType, StringType,
                                   StructField, StructType)

    from pipelines_rj_sms_spark.operators.fanout import Entity, fan_out

    rng = random.Random(11)
    payloads = []
    for i in range(30):
        payloads.append({
            "sol_id": f"S{i}", "cpf": str(rng.randint(0, 999)),
            "exames": [
                {"exame_id": f"S{i}E{j}", "nome": f"ex{j}",
                 "resultados": [
                     {"analito": f"a{k}", "valor": float(rng.randint(0, 50))}
                     for k in range(rng.randint(0, 3))]}
                for j in range(rng.randint(0, 4))],
        })
    schema = StructType([
        StructField("sol_id", StringType()),
        StructField("cpf", StringType()),
        StructField("exames", ArrayType(StructType([
            StructField("exame_id", StringType()),
            StructField("nome", StringType()),
            StructField("resultados", ArrayType(StructType([
                StructField("analito", StringType()),
                StructField("valor", DoubleType()),
            ]))),
        ]))),
    ])
    spec = Entity("sol", key_fields=("sol_id",),
                  children=(("exames", Entity(
                      "ex", key_fields=("exame_id",),
                      children=(("resultados", Entity("res")),))),))
    df = spark.createDataFrame(
        [(json.dumps(p),) for p in payloads], ["payload"])
    tables = fan_out(df, "payload", schema, spec)
    want_sols, want_ex, want_res = _flatten_lab(payloads)
    assert sorted((r.sol_id, r.cpf)
                  for r in tables["sol"].collect()) == want_sols
    assert sorted((r.sol_sol_id, r.exame_id, r.nome)
                  for r in tables["ex"].collect()) == want_ex
    assert sorted((r.sol_sol_id, r.ex_exame_id, r.analito, r.valor)
                  for r in tables["res"].collect()) == want_res


@given(st.binary(max_size=2000))
@settings(max_examples=150, deadline=None)
def test_pkdcl_literal_roundtrip_property(data):
    """explode(implode_literal(x)) == x for arbitrary byte strings —
    the bitstream writer/reader pair and the end-code handling are
    exact inverses regardless of content or length parity."""
    from pipelines_rj_sms_spark.sources.pkdcl import (
        explode, implode_literal)
    assert explode(implode_literal(data)) == data


@given(st.integers(4, 6), st.binary(min_size=1, max_size=200),
       st.integers(2, 40), st.integers(1, 32))
@settings(max_examples=150, deadline=None)
def test_pkdcl_copy_matches_python_window(dict_bits, lits, length, dist):
    """Hand-assembled length/distance copies decode identically to a
    straightforward Python sliding-window reference."""
    from tests.test_pkdcl import _match_stream
    from pipelines_rj_sms_spark.sources.pkdcl import explode
    dist = min(dist, len(lits))          # stay inside the window
    out = bytearray(lits)
    for _ in range(length):
        out.append(out[-dist])
    assert explode(_match_stream(bytes(lits), length, dist,
                                 dict_bits)) == bytes(out)
