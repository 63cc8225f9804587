"""Seeded input generators for the benchmark workloads.

Every table is a pure function of the seed: one seed gives byte-identical
parquet files. The program under test only ever reads these files.

- ``sf_tables``: the star schema, events, documents and embeddings the
  registered queries read, with the column names, types and value domains
  of the sf testdata and row counts scaled by ``sf``
  (lineitem = 6,000,000 x sf, orders = 1,500,000 x sf, ...).
- ``documents``: the document table alone; near-duplicates are an earlier
  document's text plus " dup".
- ``cxc_raw``: the raw CxC master movement table at production volume
  and shape (BASELINE.md: ~14.7k charges, ~17.6k linked payments, 0.76%
  USD, 3.6% of charges left open, 76.48% of those overdue), a few
  hundred clients with a skewed share of movements, plus the reference
  fixture's edge cases: a cancelled document, advances, an IMPORTE
  outlier, a row with no client and a duplicated row.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]
LANGS = ["en"] * 8 + ["es"] * 3 + ["zh"] * 3 + ["de"] * 3 + ["fr"] * 3


def rng(seed, table):
    return np.random.default_rng([seed, sum(ord(c) * 31 ** i for i, c in enumerate(table)) % 2**31])


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _cents(x):
    return np.round(x * 100) / 100


def _days(r, start, n, size):
    base = np.datetime64(start, "us")
    return base + r.integers(0, n, size).astype("timedelta64[D]").astype("timedelta64[us]")


def documents(seed, n):
    """(doc_id, text, lang, source, n_chars) columns for n documents."""
    r = rng(seed, "documents")
    texts = []
    for i in range(n):
        if i > 0 and r.integers(20) == 0:
            texts.append(texts[r.integers(i)] + " dup")
        else:
            words = r.integers(0, len(VOCAB), 10 + r.integers(91))
            texts.append(" ".join(VOCAB[w] for w in words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in r.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i}" for i in r.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def write_documents(path, cols, rows=None):
    table = pa.table(cols)
    if rows is not None:
        table = table.slice(rows[0], rows[1] - rows[0])
    pq.write_table(table, path)


def sf_tables(out, seed, sf, n_docs, n_vecs):
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = max(10, int(15000 * sf))
    p = lambda t: os.path.join(out, f"{t}.parquet")
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())

    _write(p("region"), {"r_regionkey": i32(range(5)),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(p("nation"), {"n_nationkey": i32(range(25)),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": i32([i % 5 for i in range(25)])})
    r = rng(seed, "customer")
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    _write(p("customer"), {"c_custkey": i64(np.arange(n_cust)),
                           "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                           "c_nationkey": i32(r.integers(0, 25, n_cust)),
                           "c_acctbal": _cents(r.uniform(-999.99, 9999.99, n_cust)),
                           "c_mktsegment": segs[r.integers(0, 5, n_cust)]})
    r = rng(seed, "supplier")
    _write(p("supplier"), {"s_suppkey": i64(np.arange(n_supp)),
                           "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                           "s_nationkey": i32(r.integers(0, 25, n_supp)),
                           "s_acctbal": _cents(r.uniform(-999.99, 9999.99, n_supp))})
    r = rng(seed, "part")
    adj = np.array(["blue", "old", "large", "hot", "cold", "small", "new", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"])
    _write(p("part"), {"p_partkey": i64(np.arange(n_part)),
                       "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                                             noun[r.integers(0, 8, n_part)]),
                       "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
                       "p_type": types[r.integers(0, 6, n_part)],
                       "p_size": i32(r.integers(1, 51, n_part)),
                       "p_retailprice": _cents(900.0 + (np.arange(n_part) % 1000) * 0.1)})
    r = rng(seed, "orders")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(p("orders"), {"o_orderkey": i64(np.arange(n_ord)),
                         "o_custkey": i64(r.integers(0, n_cust, n_ord)),
                         "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)],
                         "o_totalprice": _cents(r.uniform(1000.0, 500000.0, n_ord)),
                         "o_orderdate": _days(r, "1995-01-01", 2404, n_ord),
                         "o_orderpriority": prios[r.integers(0, 5, n_ord)]})
    r = rng(seed, "lineitem")
    _write(p("lineitem"), {"l_orderkey": i64(r.integers(0, n_ord, n_line)),
                           "l_partkey": i64(r.integers(0, n_part, n_line)),
                           "l_suppkey": i64(r.integers(0, n_supp, n_line)),
                           "l_linenumber": i32(r.integers(1, 8, n_line)),
                           "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
                           "l_extendedprice": _cents(r.uniform(900.0, 105000.0, n_line)),
                           "l_discount": r.integers(0, 11, n_line) / 100.0,
                           "l_tax": r.integers(0, 9, n_line) / 100.0,
                           "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
                           "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_line)],
                           "l_shipdate": _days(r, "1995-01-02", 2498, n_line)})
    r = rng(seed, "events")
    offs = np.sort(r.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(p("events"), {"event_id": i64(np.arange(n_ev)),
                         "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                         "user_id": i64(r.integers(0, n_users, n_ev)),
                         "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
                             r.integers(0, 5, n_ev)],
                         "value": _cents(r.exponential(50.0, n_ev)),
                         "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    write_documents(p("documents"), documents(seed, n_docs))
    r = rng(seed, "embeddings")
    v = r.standard_normal((n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(p("embeddings"), {"vec_id": i64(np.arange(n_vecs)),
                             "embedding": pa.array(list(v), pa.list_(pa.float32())),
                             "label": i32(r.integers(0, 10, n_vecs))})


AS_OF = dt.date(2024, 6, 1)
CONCEPTOS = ["FACTURA VENTA", "VENTA MOSTRADOR", "NOTA CARGO", "INTERESES"]

# Calibration, from BASELINE.md's production snapshot rows:
# - "production movement volume": 14,690 charges, 17,597 payments, so
#   1.198 linked payments per charge (the mean of PAYMENTS_P);
# - "open portfolio (MXN)": 535 open invoices, 3.64% of the charges:
#   PAYMENTS_P[0] of charges get no payment and PARTIAL_P of the paid ones
#   are settled only in part (0.015 + 0.985 x 0.0217 = 0.0364);
# - "open portfolio (MXN)": 76.48% of the open invoices overdue. An open
#   charge's age is uniform over [1, plazo / (1 - OVERDUE)] days, so it is
#   past its due date with probability OVERDUE. Settled charges spread
#   over two years;
# - "sales volume (USD)": 112 of the 14,690 charges.
# The client count and the Zipf exponent of their shares, the payment
# lags and the amount ranges have no production source.
PAYMENTS_P = [0.015, 0.802, 0.153, 0.030]  # P(0, 1, 2, 3 linked payments)
PARTIAL_P = 0.0217
OVERDUE = 0.7648
USD_P = 112 / 14690


def cxc_raw(path, seed, n_charges=14690, n_clients=300, n_advances=30):
    """Write the raw master table; return the generated rows as a dict of
    numpy columns (the checker derives its expectations from these).
    """
    r = rng(seed, "cxc_raw")
    # skewed client shares: Zipf-like weights over n_clients
    w = 1.0 / np.arange(1, n_clients + 1) ** 1.1
    w /= w.sum()
    cli_tipo = np.where(r.random(n_clients) < 0.7, "CREDITO", "CONTADO")
    cli_lim = _cents(r.uniform(50000, 3000000, n_clients))
    vendedores = [f"VENDEDOR {i:02d}" for i in range(12)]

    n = n_charges
    cli = r.choice(n_clients, n, p=w)
    k_pays = r.choice(4, n, p=PAYMENTS_P)
    partial = (k_pays > 0) & (r.random(n) < PARTIAL_P)
    plazo = np.array([30, 60, 90])[r.integers(0, 3, n)]
    max_age = np.where((k_pays == 0) | partial, np.ceil(plazo / (1 - OVERDUE)), 730)
    emis_days = 1 + (r.random(n) * max_age).astype(np.int64)
    importe = _cents(r.uniform(500, 50000, n))
    impuesto = _cents(importe * 0.16)
    usd = r.random(n) < USD_P
    rows = {k: [] for k in ["DOCTO_CC_ID", "DOCTO_CC_ACR_ID", "FOLIO", "TIPO_IMPTE",
                            "NATURALEZA_CONCEPTO", "CONCEPTO", "NOMBRE_CLIENTE", "CLIENTE_ID",
                            "TIPO_CLIENTE", "VENDEDOR", "FECHA_EMISION", "FECHA_VENCIMIENTO",
                            "HORA", "IMPORTE", "IMPUESTO", "MONEDA", "CONDICIONES",
                            "ESTATUS_CLIENTE", "CANCELADO", "APLICADO", "LIMITE_CREDITO"]}

    def add(**kv):
        for k in rows:
            rows[k].append(kv[k])

    def charge_row(i, **over):
        emis = dt.datetime.combine(AS_OF - dt.timedelta(days=int(emis_days[i])), dt.time())
        c = int(cli[i])
        base = dict(
            DOCTO_CC_ID=i + 1, DOCTO_CC_ACR_ID=None, FOLIO=f"FAC-{i + 1:05d}",
            TIPO_IMPTE="C", NATURALEZA_CONCEPTO="C",
            CONCEPTO=CONCEPTOS[r.choice(4, p=[0.6, 0.3, 0.05, 0.05])],
            NOMBRE_CLIENTE=f"CLIENTE {c:03d}", CLIENTE_ID=c + 1, TIPO_CLIENTE=cli_tipo[c],
            VENDEDOR=vendedores[c % 12], FECHA_EMISION=emis,
            FECHA_VENCIMIENTO=emis + dt.timedelta(days=int(plazo[i])),
            HORA=None if i % 7 == 0 else emis + dt.timedelta(seconds=int(r.integers(28800, 72000))),
            IMPORTE=float(importe[i]), IMPUESTO=float(impuesto[i]),
            MONEDA="USD" if usd[i] else "MXN", CONDICIONES=f"Credito {plazo[i]} dias",
            ESTATUS_CLIENTE="ACTIVO", CANCELADO="N", APLICADO="S",
            LIMITE_CREDITO=float(cli_lim[c]))
        base.update(over)
        return base

    charges = [charge_row(i) for i in range(n)]
    for ch in charges:
        add(**ch)
    # linked payments: 0-3 per charge; all but the partial ones settle in full
    next_id = n + 1
    for i, ch in enumerate(charges):
        k = int(k_pays[i])
        if k == 0:
            continue
        frac = r.uniform(0.3, 0.95) if partial[i] else 1.0
        shares = r.dirichlet(np.ones(k)) * frac
        imp_left, tax_left = ch["IMPORTE"], ch["IMPUESTO"]
        for j in range(k):
            if j == k - 1 and frac == 1.0:
                imp, tax = round(imp_left, 2), round(tax_left, 2)
            else:
                imp = round(ch["IMPORTE"] * shares[j], 2)
                tax = round(ch["IMPUESTO"] * shares[j], 2)
            imp_left -= imp
            tax_left -= tax
            lag = int(r.integers(0, int(plazo[i]) + 90))
            fecha = min(ch["FECHA_EMISION"] + dt.timedelta(days=lag),
                        dt.datetime.combine(AS_OF, dt.time()))
            add(**dict(ch, DOCTO_CC_ID=next_id, DOCTO_CC_ACR_ID=ch["DOCTO_CC_ID"],
                       FOLIO=f"REC-{next_id:05d}", TIPO_IMPTE="R", NATURALEZA_CONCEPTO="R",
                       CONCEPTO="COBRO VENTA", IMPORTE=imp, IMPUESTO=tax, FECHA_EMISION=fecha))
            next_id += 1
    # advances ('A'), not linked to a charge
    for j in range(n_advances):
        ch = charges[int(r.integers(n))]
        add(**dict(ch, DOCTO_CC_ID=next_id, FOLIO=f"ANT-{j + 1:04d}", TIPO_IMPTE="A",
                   NATURALEZA_CONCEPTO="R", CONCEPTO="ANTICIPO",
                   IMPORTE=1000.0 * (j + 1), IMPUESTO=160.0 * (j + 1)))
        next_id += 1
    # edge cases: cancelled copy, IMPORTE outlier, no client, duplicate
    add(**dict(charges[4], DOCTO_CC_ID=next_id, FOLIO="FAC-CANC", CANCELADO="S"))
    add(**dict(charges[5], DOCTO_CC_ID=next_id + 1, FOLIO="FAC-OUTL",
               CONCEPTO="FACTURA VENTA", IMPORTE=500000.0, IMPUESTO=80000.0))
    add(**dict(charges[6], DOCTO_CC_ID=next_id + 2, FOLIO="FAC-NULL",
               NOMBRE_CLIENTE=None, TIPO_CLIENTE=None, VENDEDOR=None))
    add(**dict(charges[7], DOCTO_CC_ID=next_id + 3))

    ts = pa.timestamp("us")
    table = pa.table({
        "DOCTO_CC_ID": pa.array(rows["DOCTO_CC_ID"], pa.int64()),
        "DOCTO_CC_ACR_ID": pa.array(rows["DOCTO_CC_ACR_ID"], pa.int64()),
        "FOLIO": rows["FOLIO"], "TIPO_IMPTE": rows["TIPO_IMPTE"],
        "NATURALEZA_CONCEPTO": rows["NATURALEZA_CONCEPTO"], "CONCEPTO": rows["CONCEPTO"],
        "NOMBRE_CLIENTE": pa.array(rows["NOMBRE_CLIENTE"], pa.string()),
        "CLIENTE_ID": pa.array(rows["CLIENTE_ID"], pa.int64()),
        "TIPO_CLIENTE": pa.array(rows["TIPO_CLIENTE"], pa.string()),
        "VENDEDOR": pa.array(rows["VENDEDOR"], pa.string()),
        "FECHA_EMISION": pa.array(rows["FECHA_EMISION"], ts),
        "FECHA_VENCIMIENTO": pa.array(rows["FECHA_VENCIMIENTO"], ts),
        "HORA": pa.array(rows["HORA"], ts),
        "IMPORTE": pa.array(rows["IMPORTE"], pa.float64()),
        "IMPUESTO": pa.array(rows["IMPUESTO"], pa.float64()),
        "MONEDA": rows["MONEDA"], "CONDICIONES": rows["CONDICIONES"],
        "ESTATUS_CLIENTE": rows["ESTATUS_CLIENTE"], "CANCELADO": rows["CANCELADO"],
        "APLICADO": rows["APLICADO"],
        "LIMITE_CREDITO": pa.array(rows["LIMITE_CREDITO"], pa.float64()),
    })
    pq.write_table(table, path)
    return table
