"""Untimed output checks, run after the timed loop.

Each check returns ``{op name: reason}`` for the operations whose output
is wrong; run.py counts those operations as failed.

- query_mix: every query's parquet result must equal DuckDB running the
  query's registered oracle SQL over the same generated tables (the
  comparison ``tools/selfcheck.py`` makes: sorted rows, exact values).
- cxc_refresh: the invariants the pipeline spec states, on the generated
  input: SALDO_FACTURA = charge - linked payments (against the generated
  rows), final SALDO_CLIENTE = net client position, aging TOTAL = sum of
  buckets; per-view row counts; the workbook's sheet list; the PDF page
  count.
- stream_dedup: the union of per-batch verdicts equals the verdicts of
  the same documents processed as one batch.
"""
import glob
import json
import os
import re
import zipfile

import numpy as np
import pandas as pd

QUERY_IDS = ["q25", "q44", "q30", "qd36", "qe5b", "qe15", "qm9"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _read(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def check_query_mix(input_dir, out):
    import duckdb
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    bad = {}
    for qid in QUERY_IDS:
        names = [n for n in oracle if n.split("_")[0] == qid]
        op = f"query:{qid}"
        if not names:
            bad[op] = "no oracle SQL registered"
            continue
        name = names[0]
        try:
            got = _canon(_read(os.path.join(out, name)))
            exp = _canon(con.execute(oracle[name]).fetchdf())
            if list(got.columns) != list(exp.columns) or got.shape != exp.shape:
                bad[op] = f"shape/columns differ: {got.shape} vs oracle {exp.shape}"
                continue
            pd.testing.assert_frame_equal(got, exp, check_exact=True)
        except Exception as e:  # any mismatch or read error fails the query
            bad[op] = f"{type(e).__name__}: {str(e)[:200]}"
    return bad


def check_cxc(res, out, raw):
    bad = {}
    cycle = max(o["cycle"] for o in res["ops"])
    d = os.path.join(out, f"refresh{cycle}")
    raw = raw.to_pandas()
    raw["_MONTO"] = raw["IMPORTE"] + raw["IMPUESTO"]
    cancelled = raw["CANCELADO"] == "S"
    live = raw[~cancelled]

    def fail(check, why):
        # every check reads the output of the one refresh operation
        bad["refresh"] = (bad["refresh"] + "; " if "refresh" in bad else "") + f"{check}: {why}"

    try:
        movs = _read(os.path.join(d, "movimientos_totales"))
        # SALDO_FACTURA = charge - linked payments, against the generated rows
        paid = live[live.TIPO_IMPTE == "R"].groupby("DOCTO_CC_ACR_ID")["_MONTO"].sum()
        ch = live[live.TIPO_IMPTE == "C"].set_index("DOCTO_CC_ID")["_MONTO"]
        expected = (ch - paid.reindex(ch.index).fillna(0.0))
        got = movs[movs.TIPO_IMPTE == "C"].set_index("DOCTO_CC_ID")["SALDO_FACTURA"]
        if len(got) != len(expected) or (got.reindex(expected.index) - expected).abs().max() > 0.011:
            fail("parquet:movimientos_totales", "SALDO_FACTURA != charge - linked payments")
        # final SALDO_CLIENTE per client = net client position
        m = movs.copy()
        m["_k"] = m["NOMBRE_CLIENTE"].fillna("\0")
        last = (m.sort_values(["DOCTO_CC_ACR_ID", "DOCTO_CC_ID", "FECHA_EMISION"],
                              ascending=False, na_position="last", kind="mergesort")
                .groupby("_k").head(1).set_index("_k")["SALDO_CLIENTE"])
        sign = np.where(m.TIPO_IMPTE == "C", 1.0, np.where(m.TIPO_IMPTE == "R", -1.0, 0.0))
        net = (m["_MONTO"] * sign).groupby(m["_k"]).sum()
        n = m.groupby("_k").size()
        if ((last - net.reindex(last.index)).abs() > n.reindex(last.index) * 0.005 + 0.01).any():
            fail("parquet:movimientos_totales", "final SALDO_CLIENTE != net client position")
    except Exception as e:
        fail("parquet:movimientos_totales", f"{type(e).__name__}: {e}")

    try:
        aging = _read(os.path.join(d, "antiguedad_cartera_mxn"))
        label = aging.iloc[:, 0]
        total = aging[label == "TOTAL"]
        body = aging[label != "TOTAL"]
        if len(total) != 1 or total.iloc[0, 2] != body.iloc[:, 2].sum() or total.iloc[0, 4] != 1.0:
            fail("parquet:antiguedad_cartera_mxn", "aging TOTAL != sum of buckets")
    except Exception as e:
        fail("parquet:antiguedad_cartera_mxn", f"{type(e).__name__}: {e}")

    n_adv = int(((raw.TIPO_IMPTE == "A") & ~cancelled).sum())
    counts = {"registros_totales": len(raw), "registros_cancelados": int(cancelled.sum()),
              "por_acreditar": n_adv, "movimientos_totales": len(raw) - int(cancelled.sum()) - n_adv}
    with open(os.path.join(out, "cxc_views.json")) as fh:
        views = json.load(fh)
    for v in sorted(os.listdir(d)):
        if not os.path.isdir(os.path.join(d, v)):
            continue
        try:
            rows = len(_read(os.path.join(d, v)))
            if v in counts and rows != counts[v]:
                fail(f"parquet:{v}", f"{rows} rows, expected {counts[v]}")
            elif v not in views or rows == 0:
                fail(f"parquet:{v}", "view missing or empty")
        except Exception as e:
            fail(f"parquet:{v}", f"{type(e).__name__}: {e}")

    wb = "02_analisis_cxc"
    try:
        with zipfile.ZipFile(os.path.join(d, f"{wb}.xlsx")) as z:
            sheets = re.findall(r'<sheet [^>]*name="([^"]+)"', z.read("xl/workbook.xml").decode())
        # the workbook layout's names and order for the two sampled views
        if sheets != ["kpis_resumen_mxn", "kpis_concentracion_mxn"]:
            fail(f"xlsx:{wb}", f"sheets {sheets}")
    except Exception as e:
        fail(f"xlsx:{wb}", f"{type(e).__name__}: {e}")

    try:
        with open(os.path.join(d, "dashboard_cxc.pdf"), "rb") as fh:
            pages = len(re.findall(rb"/Type\s*/Page\b(?!s)", fh.read()))
        want = res["counters"].get("output.pdf_pages", -1)
        # cover, USD divider, six always-present MXN sections and up to two
        # more (cancelled docs, advances); the USD views are not passed
        if pages != want or not 8 <= pages <= 10:
            fail("pdf", f"{pages} pages in file, export reported {want}")
    except Exception as e:
        fail("pdf", f"{type(e).__name__}: {e}")
    return bad


def check_stream(res, out):
    try:
        cycle = max(o["cycle"] for o in res["ops"])
        per_batch = _read(os.path.join(out, f"cycle{cycle}", "verdicts"))
        oneshot = _read(os.path.join(out, "oneshot", "verdicts"))
        cols = ["doc_id", "dup_of", "jac_est"]
        a = _canon(per_batch[cols])
        b = _canon(oneshot[cols])
        pd.testing.assert_frame_equal(a, b, check_exact=True)
        if a["dup_of"].notna().sum() == 0:
            raise AssertionError("no duplicate found in the stream")
        return {}
    except Exception as e:
        # the verdicts are a property of the whole stream: every batch fails
        return {o["name"]: f"{type(e).__name__}: {str(e)[:200]}" for o in res["ops"]}


def run(workload, res, input_dir, out, raw):
    if workload == "query_mix":
        return check_query_mix(input_dir, out)
    if workload == "cxc_refresh":
        return check_cxc(res, out, raw)
    return check_stream(res, out)
