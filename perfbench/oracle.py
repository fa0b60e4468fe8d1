"""Output checks: every run's results against an independent answer.

* read_mix: DuckDB over the raw base tables, one SQL template per request
  kind instantiated with the request's own constants; consume chunks are
  expanded from the DuckDB event order with the engine's token rule.
* ingest_merge: read-backs against the generator's fold of its batches.
* pipeline_batch: quality signals and decontamination against DuckDB
  over the generated corpus, planted near-duplicates must be recalled.

A result matches when the row count and an order-insensitive hash of
the canonical rows agree.
"""
import hashlib
import json

import duckdb

from datagen import num

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

QUALITY_SQL = """
WITH t AS (SELECT doc_id, text, list_filter(string_split_regex(lower(text),
  '[^a-z0-9]+'), x -> x <> '') AS ts FROM corpus)
SELECT doc_id, len(ts),
  CAST(len(list_filter(ts, x -> list_contains(
    ['the','a','an','and','of','to','in','is','it','for'], x))) AS DOUBLE)
    / len(ts),
  CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
    / length(text),
  CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(ts),
  1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)
FROM t"""

DECONTAM_SQL = """
WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
  '[^a-z0-9]+'), x -> x <> '') AS ts FROM corpus),
g AS (SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS g
  FROM tok, UNNEST(generate_series(1, len(ts) - 7)) AS t(i)),
btok AS (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
  x -> x <> '') AS ts FROM bench),
bg AS (SELECT DISTINCT array_to_string(ts[i:i+7], ' ') AS g
  FROM btok, UNNEST(generate_series(1, len(ts) - 7)) AS t(i))
SELECT DISTINCT doc_id FROM g JOIN bg USING (g)"""


def cell(v):
    if v is None:
        return ""
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (int, float)) or type(v).__name__ == "Decimal":
        return num(v)
    return str(v)


def row(values):
    return "|".join(cell(v) for v in values)


def digest(rows):
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update((r + "\n").encode())
    return h.hexdigest()


def same(engine_rows, oracle_rows):
    """Row count and order-insensitive hash agree."""
    return (len(engine_rows) == len(oracle_rows)
            and digest(engine_rows) == digest(oracle_rows))


class Oracle:
    def __init__(self, base_dir=None, **parquet_views):
        self.con = duckdb.connect()
        if base_dir:
            for t in TABLES:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"read_parquet('{base_dir}/{t}.parquet')")
        for name, path in parquet_views.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                             f"read_parquet('{path}')")

    def rows(self, sql):
        return [row(r) for r in self.con.execute(sql).fetchall()]

    def consume_rows(self, spec):
        """Chunks of a consumer following its tokens: each chunk ends at
        the indexTime of the chunk-th pending version (ties included)."""
        ev = self.con.execute(
            "SELECT '/user/' || user_id, epoch_us(ts) FROM events "
            "WHERE event_type = ? ORDER BY 2", [spec["event_type"]]).fetchall()
        out, pos = [], 0
        for k in range(spec["chunks"]):
            pending = ev[pos:]
            if not pending:
                break
            bound = pending[min(spec["chunk"], len(pending)) - 1][1]
            while pos < len(ev) and ev[pos][1] <= bound:
                out.append(f"{k}\t{ev[pos][0]}")
                pos += 1
        return out

    def expected_read(self, req):
        o = req["oracle"]
        return self.consume_rows(o) if isinstance(o, dict) else self.rows(o)


def engine_read_rows(req, rows):
    """Canonical engine rows of a read request: JSON result rows become
    their values in column order; infoton renderings are already paths."""
    if req["fmt"] == "json":
        return [row(json.loads(r).values()) for r in rows]
    return list(rows)


def check_read(oracle, reqs, ops):
    """A message per wrong op. Each distinct request is answered once;
    repeats reuse the answer."""
    by_id = {q["id"]: q for q in reqs}
    cache, wrong = {}, []
    for op in ops:
        if op["error"]:
            continue
        req = by_id[op["extra"]["req"]]
        key = json.dumps(req["oracle"], sort_keys=True)
        if key not in cache:
            cache[key] = oracle.expected_read(req)
        got = engine_read_rows(req, op["rows"])
        if not same(got, cache[key]):
            wrong.append(f"{op['id']} ({req['kind']}/{req['fmt']}): engine "
                         f"{len(got)} rows, oracle {len(cache[key])}")
    return wrong


def check_ingest(batches, ops):
    wrong = []
    for op in ops:
        if op["error"]:
            continue
        exp = batches[op["extra"]["batch"]]["expected"]
        if not same(op["rows"], exp):
            wrong.append(f"{op['id']}: read-back {sorted(op['rows'])[:3]} "
                         f"expected {exp[:3]}")
    return wrong


def check_pipeline(oracle, planted, ops):
    """The first pass ships its stage outputs; later passes must hash to
    the same stage outputs."""
    good = [o for o in ops if not o["error"]]
    full = [o for o in good if o["rows"]]
    if not full:  # the first pass failed: counted as an error already
        return []
    first = full[0]
    stage = {}
    for line in first["rows"]:
        tag, val = line.split("\t", 1)
        stage.setdefault(tag, []).append(val)
    wrong = []
    if not same(stage.get("quality", []), oracle.rows(QUALITY_SQL)):
        wrong.append("quality signals differ from DuckDB")
    if not same(stage.get("decontam", []), oracle.rows(DECONTAM_SQL)):
        wrong.append("decontaminated doc set differs from DuckDB")
    root = dict(r.split("|") for r in stage.get("components", []))
    missed = [p for p in planted
              if root.get(str(p[0]), str(p[0])) != root.get(str(p[1]), str(p[1]))
              or str(p[1]) not in root]
    if missed:
        wrong.append(f"{len(missed)}/{len(planted)} planted near-duplicates "
                     f"not clustered, e.g. {missed[:3]}")
    if not stage.get("knn"):
        wrong.append("knn returned no neighbours")
    packed, kept = stage["pack"][0].split("|")
    if packed != kept:
        wrong.append(f"pack placed {packed} of {kept} kept docs")
    for o in good:
        if o["extra"]["digest"] != first["extra"]["digest"]:
            wrong.append(f"{o['id']}: stage outputs differ from the first pass")
    return wrong
