"""Seeded payloads for the hourly pipeline workload, and the model of what
the pipeline must publish for them.

Five accounts, each following a disjoint pool of `customer` keys. Every
tick hands the scheduler one bare JSON list per account. Between ticks the
follower lists churn: members leave, new ones join, some change surname (a
diff key change), and some lose their `full_name` (a NULL key, which never
matches in a diff, so such a row is both added and deleted). The schedule
is consecutive hourly ticks across midnight, so the same-day per-account
diff and the cross-day global diff both fire.

`expected()` recomputes, without Spark, the row counts the JDBC tables must
hold, the documents each Elasticsearch index must hold, and the final lake
state (less the two gender-enrichment columns) in the shape of
`PipelineQueries.finalState`.
"""
import collections
import json
import os

import numpy as np

ACCOUNTS = [f"account_{i}" for i in range(1, 6)]
TICKS = [(20250301, 2200), (20250301, 2300), (20250302, 0), (20250302, 100),
         (20250302, 200)]
FIRST = ["James", "Mary", "Chris", "Kim", "Robin"]
# Share of an account's key pool following it at the first tick, and the
# per-tick chances that a member leaves (as many newcomers join), changes
# surname, or has a NULL full_name.
MEMBER_FRAC, CHURN, RENAME, NULLS = 0.3, 0.04, 0.03, 0.01


def _username(k):
    return f"Emma_{k}" if k % 7 == 0 else f"u{k}"


def payload_rows(keys, seed):
    """rows[tick][account] = sorted list of (username, full_name or None)."""
    rng = np.random.default_rng(seed)
    keys = np.asarray(keys, dtype=np.int64)
    out = [dict() for _ in TICKS]
    for a, acct in enumerate(ACCOUNTS):
        pool = keys[keys % len(ACCOUNTS) == a]
        members = {int(k): ["Doe", False] for k in pool[rng.random(len(pool)) < MEMBER_FRAC]}
        for i in range(len(TICKS)):
            if i > 0:
                for k in sorted(members):
                    if rng.random() < CHURN:
                        del members[k]
                outside = [int(k) for k in pool if int(k) not in members]
                n_add = min(len(outside), int(round(CHURN * len(members))))
                for k in rng.choice(outside, n_add, replace=False) if n_add else []:
                    members[int(k)] = ["Doe", False]
                for k in sorted(members):
                    if rng.random() < RENAME:
                        members[k][0] = f"Renamed{i}"
                    members[k][1] = rng.random() < NULLS
            out[i][acct] = [
                (_username(k), None if k % 11 == 0 or nulled else f"{FIRST[k % 5]} {surname}")
                for k, (surname, nulled) in sorted(members.items())]
    return out


def payload_json(rows):
    """A pretty-printed bare JSON list, the reference's payload shape."""
    return "[\n" + ",\n".join(
        "  " + json.dumps({"username": u, "full_name": f}) for u, f in rows) + "\n]"


def write(out_dir, keys, seed):
    rows = payload_rows(keys, seed)
    d = os.path.join(out_dir, "hourly")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "schedule.json"), "w") as f:
        json.dump({"accounts": ACCOUNTS, "ticks": TICKS}, f)
    for i, per in enumerate(rows):
        for acct, rs in per.items():
            with open(os.path.join(d, f"t{i}-{acct}.json"), "w") as f:
                f.write(payload_json(rs))
    return rows


def _diff(cur, prev, added="added", deleted="deleted"):
    """SnapshotDiff.diff on (username, full_name): NULL never matches."""
    def keys(rs):
        return {(r[0], r[1]) for r in rs if r[1] is not None}
    ck, pk = keys(cur), keys(prev)
    return ([r + (added,) for r in cur if r[1] is None or (r[0], r[1]) not in pk] +
            [r + (deleted,) for r in prev if r[1] is None or (r[0], r[1]) not in ck])


def expected(rows):
    """Row counts per JDBC table, docs per ES index, and the final state."""
    counts = collections.Counter()
    agg_ids, cmp_ids = set(), set()
    aggs, cmps, globs = [], [], []
    comp_dirs = set()
    comparatif = {}
    for i, (d, t) in enumerate(TICKS):
        for acct in ACCOUNTS:
            counts[acct] += len(rows[i][acct])
            same_day = [j for j in range(i) if TICKS[j][0] == d]
            if same_day:
                comparatif[(i, acct)] = _diff(rows[i][acct], rows[same_day[-1]][acct])
                comp_dirs.add(acct)
        day = [j for j in range(i + 1) if TICKS[j][0] == d]
        # (username, full_name, username_scraped)
        agg = [(u, f, acct) for j in day for acct in ACCOUNTS for u, f in rows[j][acct]]
        counts["final_aggregated_usage"] += len(agg)
        agg_ids.update(u for u, _, _ in agg)
        if comp_dirs:
            comp = [(u, f, acct, ch) for j in day for acct in ACCOUNTS
                    for u, f, ch in comparatif.get((j, acct), [])]
            counts["final_comparatif_usage"] += len(comp)
            cmp_ids.update(c[0] for c in comp)
            cmps.append(comp)
        else:
            cmps.append([])
        if i > 0:
            g = _diff([(u, f, a) for u, f, a in agg],
                      [(u, f, a) for u, f, a in aggs[-1]], "added_global", "deleted_global")
            # the deleted side's non-key columns come from the older aggregate
            globs += [("glob", d, t, r[2], r[0], r[1], r[3]) for r in g]
        aggs.append(agg)
    d, t = TICKS[-1]
    state = ([("agg", d, t, a, u, f, None) for u, f, a in aggs[-1]] +
             [("cmp", d, t, a, u, f, ch) for u, f, a, ch in cmps[-1]] + globs)
    counts["final_aggregated_index"] = len(agg_ids)
    counts["final_comparatif_index"] = len(cmp_ids)
    return dict(counts), state


def state_row(line):
    """One `final_state.jsonl` line as a model row (gender columns dropped)."""
    r = json.loads(line)
    return (r["src"], r["run_date"], r["run_time"], r.get("username_scraped"),
            r.get("username"), r.get("full_name"), r.get("change"))
