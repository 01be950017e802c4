"""Seeded input generators for the benchmark, plus the independent
expected-output computations its correctness checks compare against.

Everything here is plain Python / NumPy / PyArrow and nothing calls
into the engine: the expected counts follow the payload rules of the
engine's ``offline_fetchers()``, which stand in for the BAN and ADEME
services. The same seed always yields the same files.
"""

from __future__ import annotations

import hashlib
import os
import random
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ENEDIS_HEADER = (
    "annee;code_iris;nom_iris;numero_de_voie;type_de_voie;libelle_de_voie;"
    "code_commune;nom_commune;segment_de_client;nombre_de_logements;"
    "consommation_annuelle_totale_de_l_adresse_mwh;"
    "consommation_annuelle_moyenne_par_site_de_l_adresse_mwh;"
    "adresse;code_departement;tri_des_adresses"
)

# (code_departement, code_commune, nom_commune, nom_iris); communes
# are one word because the offline geocoder splits addresses on spaces.
COMMUNES = [
    ("06", "06029", "Cannes", "La Source"),
    ("06", "06088", "Nice", "Carabacel"),
    ("75", "75112", "Paris", "Odeon"),
    ("75", "75115", "Paris", "Grenelle"),
    ("69", "69123", "Lyon", "Bellecour"),
    ("69", "69266", "Villeurbanne", "Gratte-Ciel"),
]
VOIES = ["RUE", "AVENUE", "BOULEVARD", "IMPASSE", "ALLEE"]
LIBELLES = ["LACOUR", "SEINE", "DES LILAS", "VICTOR HUGO", "PASTEUR", "DU PORT", "JEAN JAURES"]
YEARS = (2019, 2020, 2021, 2022)


def write_enedis_csv(path: str, n_addresses: int, seed: int) -> list[str]:
    """Write a ``;``-separated Enedis CSV (FIXTURES.md §1 shape) with
    ``n_addresses`` distinct addresses × one row per year, and return
    the distinct ``full_adress`` keys the pipeline will derive."""
    rng = random.Random(seed)
    rows, keys, seen = [], [], set()
    while len(keys) < n_addresses:
        dep, commune, nom, iris_name = rng.choice(COMMUNES)
        numero, voie, libelle = rng.randint(1, 400), rng.choice(VOIES), rng.choice(LIBELLES)
        adresse = f"{numero} {voie} {libelle}"
        full = f"{adresse} {commune} {nom}"
        if full in seen:
            continue
        seen.add(full)
        keys.append(full)
        iris = f"{commune}{rng.randint(100, 999):04d}"
        logements = rng.randint(1, 120)
        for year in YEARS:
            total = round(rng.uniform(5.0, 400.0), 3)
            rows.append(
                f"{year};{iris};{iris_name};{numero};{voie};{libelle};"
                f"{commune};{nom};RESIDENTIEL;{logements};"
                f"{total};{round(total / logements, 3)};{adresse};{dep};{len(keys)}"
            )
    with open(path, "w") as fh:
        fh.write(ENEDIS_HEADER + "\n" + "\n".join(rows) + "\n")
    return keys


def _md5_bucket(key: str) -> int:
    # Mirrors offline_fetchers(): the first four md5 bytes mod 10 000.
    return int.from_bytes(hashlib.md5(key.encode()).digest()[:4], "big") % 10_000


def expected_counts(addresses: list[str]) -> dict:
    """Rows a first ``run_etl`` over ``addresses`` must append per gold
    table, worked out from the offline payload rules alone. Distinct
    addresses can share an ``id_ban`` bucket and distinct ids can share
    a DPE bucket; both collisions collapse rows under the PK dedup."""
    id_bans = {f"ban_{_md5_bucket(a)}" for a in addresses}
    dpe_buckets = {_md5_bucket(i) for i in id_bans}
    return {
        "distinct_ban_keys": len(addresses),
        "distinct_ademe_keys": len(id_bans),
        "tables": {
            "tests_statistiques_dpe": len({(n + j) % 7 for n in dpe_buckets for j in (0, 1)}),
            "adresses": len(id_bans),
            "villes": len({n % 2 for n in dpe_buckets}),
            "donnees_geocodage": len(id_bans),
            "donnees_climatiques": len(id_bans),
            "logements": 2 * len(dpe_buckets),
        },
    }


# ------------------------------------------------------------ history sink

def _write_table(root: str, table: str, tbl: pa.Table) -> None:
    d = os.path.join(root, table)
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, os.path.join(d, "part-00000-history.snappy.parquet"))
    open(os.path.join(d, "_SUCCESS"), "w").close()


def _keys(prefix: str, n: int) -> pa.Array:
    return pc.binary_join_element_wise(prefix, pa.array(np.arange(n).astype(str)), "")


def _const(value: str, n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(np.zeros(n, np.int32), [value])


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(rng.integers(0, len(values), n, dtype=np.int32), values)


def write_history_sink(root: str, addresses: list[str], n_addresses: int, seed: int) -> int:
    """Preload a parquet sink with the gold history of ``n_addresses``
    addresses (two dwellings each) that already holds every key
    ``addresses`` will produce, so a run over them appends no entity
    row. Returns the number of existing keys the load stage reads."""
    rng = np.random.default_rng(seed)
    batch_ban = sorted({f"ban_{_md5_bucket(a)}" for a in addresses})
    batch_dpe = sorted({f"dpe_{_md5_bucket(i)}_{j}" for i in batch_ban for j in (0, 1)})
    # Bulk keys live outside the offline payload's key space
    # (ban_0..ban_9999), so they never collide with a batch key.
    n = n_addresses
    ban = pa.concat_arrays([pa.array(batch_ban), _keys("hist_ban_", n - len(batch_ban))])
    dpe = pa.concat_arrays([pa.array(batch_dpe), _keys("hist_dpe_", 2 * n - len(batch_dpe))])
    m = len(dpe)
    labels = list("ABCDEFG")
    # Postal codes as the transform writes them: autocast to double, then text.
    postcodes = ["6400.0", "75006.0"]

    def f64(lo: float, hi: float, k: int) -> pa.Array:
        return pa.array(np.round(rng.uniform(lo, hi, k), 2))

    _write_table(root, "adresses", pa.table({
        "id_ban": ban,
        "full_adress_ban": _const("history address", n),
        "label_ban": _const("HISTORY ADDRESS", n),
    }))
    _write_table(root, "donnees_geocodage", pa.table({
        "id_ban": ban,
        "lon_ban": f64(-5.0, 9.0, n),
        "lat_ban": f64(41.0, 51.0, n),
        "score_ban": f64(0.3, 1.0, n),
        "statut_geocodage_ademe": _const("adresse geocodee", n),
    }))
    _write_table(root, "donnees_climatiques", pa.table({
        "id_ban": ban,
        "zone_climatique_ademe": _pick(rng, ["H1a", "H1b", "H2", "H3"], n),
    }))
    _write_table(root, "logements", pa.table({
        "_id_ademe": dpe,
        "id_ban": pc.take(ban, pa.array(np.arange(m) // 2)),
        "etiquette_dpe_ademe": _pick(rng, labels, m),
        "etiquette_ges_ademe": _pick(rng, labels, m),
        "conso_5_usages_par_m2_ef_ademe": f64(50.0, 400.0, m),
        "conso_5_usages_par_m2_ep_ademe": f64(80.0, 600.0, m),
        "surface_habitable_logement_ademe": f64(15.0, 200.0, m),
        "annee_construction_ademe": pa.array(rng.integers(1900, 2020, m).astype(float)),
        "periode_construction_ademe": _const("1948-1974", m),
        "nombre_de_logements_enedis": pa.array(rng.integers(1, 120, m)),
        "conso_kwh": f64(1000.0, 9000.0, m),
        "conso_kwh_m2": f64(10.0, 300.0, m),
        "absolute_diff_conso_prim_fin": f64(0.0, 200.0, m),
        "absolute_diff_conso_fin_act": f64(0.0, 200.0, m),
        "consumption_difference": f64(-100.0, 100.0, m),
        "code_postal_ban_ademe": _pick(rng, postcodes, m),
        "batch_id": _const("history", m),
    }))
    _write_table(root, "villes", pa.table({
        "code_postal_ban_ademe": pa.array(postcodes),
        "city_ban": pa.array(["Cannes", "Paris"]),
        "code_departement_enedis": pa.array(["6", "75"]),
    }))
    _write_table(root, "tests_statistiques_dpe", pa.table({
        "etiquette_dpe_ademe": pa.array(list("ABCDEFG")),
        "sample_size": pa.array(np.full(7, 100)),
        "paired_t_test_t_statistic": pa.array(np.zeros(7)),
        "paired_t_test_p_value": pa.array(np.ones(7)),
        "wilcoxon_statistic": pa.array(np.zeros(7)),
        "wilcoxon_p_value": pa.array(np.ones(7)),
        "batch_id": _const("history", 7),
    }))
    return 3 * n + m + len(postcodes) + 7


# ------------------------------------------------------------ analytics tables

def write_tpch_tables(root: str, scale: float, seed: int) -> None:
    """TPC-H-shaped tables with the column names, types and value
    domains of the engine's analytics fixtures (TESTDATA.md), at
    ``scale`` (1.0 = 6 M lineitem rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp = max(int(150_000 * scale), 50), max(int(10_000 * scale), 10)
    n_part, n_ord = max(int(200_000 * scale), 50), max(int(1_500_000 * scale), 100)
    n_line = max(int(6_000_000 * scale), 400)

    def cents(lo: float, hi: float, k: int) -> pa.Array:
        return pa.array(rng.integers(int(lo * 100), int(hi * 100), k) / 100.0)

    def days(start: datetime, span: int, k: int) -> pa.Array:
        off = rng.integers(0, span, k)
        base = np.datetime64(start, "us")
        return pa.array(base + off.astype("timedelta64[D]"), pa.timestamp("us"))

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": cents(-999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": cents(-999.99, 9999.99, n_supp),
    })
    colours = ["blue", "red", "green", "small", "large", "shiny", "dark", "pale"]
    nouns = ["ring", "widget", "bolt", "anvil", "gear", "nut", "spring", "valve"]
    put("part", {
        "p_partkey": pa.array(np.arange(n_part)),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(colours, n_part), " "),
                                       rng.choice(nouns, n_part))),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": cents(1000.0, 500000.0, n_ord),
        "o_orderdate": days(datetime(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.integers(90_000, 210_000, n_line) / 100.0, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": days(datetime(1995, 1, 2), 2498, n_line),
    })
