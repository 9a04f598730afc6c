"""Output checks: every operation's result is compared with the generator.

Each checker returns (verdicts, attempted, failed). A verdict is
(record, ok, reason); only ops whose verdict is ok contribute timings.
"""

import json
import os

import gen


def _diff(got, want, keys):
    for k in keys:
        if got.get(k) != want.get(k):
            return f"{k}: got {got.get(k)!r}, want {want.get(k)!r}"
    return None


def etl_cycle(rec, want):
    """Why the cycle record `rec` is wrong, or None if it matches `want`."""
    if not rec.get("ok"):
        return rec.get("err", "failed")
    r = rec["r"]
    if r["loaded_types"] != gen.ETL_TYPES:
        return f"loaded types {r['loaded_types']}"
    if r["inferred_types"] != gen.ETL_TYPES:
        return f"inferred types {r['inferred_types']}"
    bad = _diff(r, want, ["rows", "sum_id", "sum_qty", "nq_count", "sum_nq", "min_date",
                          "max_date", "comment_chars", "flags"])
    if bad:
        return bad
    if r["sum_price"] is None or abs(r["sum_price"] * 100 - want["sum_price_cents"]) > 0.5:
        return f"sum_price {r['sum_price']}"
    if r["agg"] != want["agg"]:
        return f"aggregate {r['agg']}"
    if r["export_lines"] != want["rows"] + 1:
        return f"export lines {r['export_lines']}"
    if r["inserted_rows"] != want["rows"] or r["inserted_sum_id"] != want["sum_id"]:
        return f"inserted {r['inserted_rows']} rows"
    return None


def lake_op(rec, want, etl_expect):
    if not rec.get("ok"):
        return rec.get("err", "failed")
    r = rec["r"]
    if rec["op"] == "etl":
        return etl_cycle(r, etl_expect[r["name"]])
    if rec["op"] == "point" and r != want:
        return f"point rows {r}, want {want}"
    if rec["op"] == "scan" and (r["n"], r["s"]) != (want["n"], want["s"]):
        return f"scan ({r['n']}, {r['s']}), want ({want['n']}, {want['s']})"
    if rec["op"] == "merge" and r["matched"] != want["matched"]:
        return f"merge matched {r['matched']}, want {want['matched']}"
    return None


def check_lake(result, seed, seconds, inputs):
    with open(os.path.join(inputs, "etl", "expect.json")) as f:
        etl_expect = json.load(f)
    why = etl_cycle(result["etl_warm"], etl_expect["warm"])
    verdicts = [(result["etl_warm"], why is None, why)]
    recs = result["warm"] + result["ops"]
    by_index = {rec["i"]: rec for rec in recs}
    last = max(by_index) if by_index else -1
    model = gen.LakeModel()
    for i, (_, want) in enumerate(gen.lake_ops(seed, seconds, model)):
        if i in by_index:
            why = lake_op(by_index[i], want, etl_expect)
            verdicts.append((by_index[i], why is None, why))
        if i >= last:
            break
    fin = result["final"]
    want = model.totals()
    why = fin.get("err") if not fin.get("ok") else _diff(fin, want, list(want))
    verdicts.append(({"op": "final_read"}, why is None, why))
    return verdicts, len(verdicts), sum(1 for v in verdicts if not v[1])


def check_neardup(result, inputs):
    with open(os.path.join(inputs, "neardup", "expect.json")) as f:
        expect = json.load(f)
    docs = expect["docs"]
    if not result.get("ok"):
        return [(result, False, result.get("err", "failed"))], docs, docs
    accepted, novel = set(result["accepted"]), set(expect["novel"])
    wrong = len(accepted ^ novel) + abs(result["ingested"] - docs)
    why = None if wrong == 0 else (
        f"{len(accepted - novel)} duplicates accepted, {len(novel - accepted)} novel "
        f"documents dropped, {result['ingested']} of {docs} ingested")
    return [(result, wrong == 0, why)], docs, min(docs, wrong)
