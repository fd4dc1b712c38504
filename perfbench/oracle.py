"""DuckDB oracle for the interval ops of the benchmark.

Recomputes each interval op on the same generated parquet the engine read
and compares the row count and the sums of the integer columns with the
summaries the harness recorded during its warm-up pass. The inputs hold
no null and no zero-length interval, so the plain half-open overlap
predicate is exact. DuckDB's LEAST/GREATEST skip NULLs, so outer-joined
arithmetic guards the unmatched side explicitly.

For ``closest`` the sums of the right side's columns depend on how ties
between equally near neighbours are broken (the engine breaks them on an
internal content id), so only the left side's columns and ``distance``
are compared: the k smallest distances of a row do not depend on ties.
"""

OVL = "a.start < b.\"end\" AND b.start < a.\"end\""

MERGED_B = """m AS (
  SELECT chrom, MIN(start) AS start, MAX("end") AS "end" FROM (
    SELECT *, SUM(brd) OVER (PARTITION BY chrom ORDER BY start, "end", id
                             ROWS UNBOUNDED PRECEDING) AS cid
    FROM (SELECT *, CASE WHEN pm IS NULL OR start > pm THEN 1 ELSE 0 END AS brd
          FROM (SELECT *, MAX("end") OVER (PARTITION BY chrom ORDER BY start, "end", id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
                FROM {src}) x) y) z
  GROUP BY chrom, cid)"""


def _closest(k):
    return f"""
WITH cand AS (
  SELECT a.id, a.start, a."end",
    GREATEST(a.start - b."end", b.start - a."end", 0) AS distance,
    CASE WHEN {OVL} THEN 0
         ELSE GREATEST(a.start - b."end", b.start - a."end", 0) + 1 END AS sortdist
  FROM a JOIN b ON a.chrom = b.chrom),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY sortdist) AS rn
           FROM cand)
SELECT a.start, a."end", a.id, r.distance
FROM a LEFT JOIN ranked r ON a.id = r.id AND r.rn <= {k}"""


# op name -> (SQL of the op's output, integer columns compared)
QUERIES = {
    "overlap_inner": (f"""
SELECT a.start, a."end", a.id, b.start AS start_, b."end" AS end_, b.id AS id_
FROM a JOIN b ON a.chrom = b.chrom AND {OVL}""",
                      ["start", "end", "id", "start_", "end_", "id_"]),
    "overlap_left": (f"""
SELECT a.start, a."end", a.id, b.start AS start_, b."end" AS end_, b.id AS id_
FROM a LEFT JOIN b ON a.chrom = b.chrom AND {OVL}""",
                     ["start", "end", "id", "start_", "end_", "id_"]),
    "overlap_outer": (f"""
SELECT a.start, a."end", a.id, b.start AS start_, b."end" AS end_, b.id AS id_
FROM a FULL OUTER JOIN b ON a.chrom = b.chrom AND {OVL}""",
                      ["start", "end", "id", "start_", "end_", "id_"]),
    "setdiff": (f"""
SELECT start, "end", id FROM a
WHERE NOT EXISTS (SELECT 1 FROM b WHERE a.chrom = b.chrom AND {OVL})""",
                ["start", "end", "id"]),
    "count_overlaps": (f"""
SELECT a.start, a."end", a.id, COUNT(b.id) AS count
FROM a LEFT JOIN b ON a.chrom = b.chrom AND {OVL}
GROUP BY a.start, a."end", a.id""",
                       ["start", "end", "id", "count"]),
    "coverage": (f"""
WITH {MERGED_B.format(src="b")}
SELECT a.start, a."end", a.id,
  COALESCE(SUM(CASE WHEN m.start IS NOT NULL
    THEN LEAST(a."end", m."end") - GREATEST(a.start, m.start) END), 0) AS coverage
FROM a LEFT JOIN m ON a.chrom = m.chrom AND a.start < m."end" AND m.start < a."end"
GROUP BY a.start, a."end", a.id""",
                 ["start", "end", "id", "coverage"]),
    "closest_k3": (_closest(3), ["start", "end", "id", "distance"]),
    "cluster": ("""
WITH x AS (SELECT *, MAX("end") OVER (PARTITION BY chrom ORDER BY start, "end", id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM a),
y AS (SELECT *, SUM(CASE WHEN pm IS NULL OR start > pm THEN 1 ELSE 0 END)
        OVER (PARTITION BY chrom ORDER BY start, "end", id ROWS UNBOUNDED PRECEDING) - 1
        AS cluster FROM x)
SELECT start, "end", id, cluster,
  MIN(start) OVER (PARTITION BY chrom, cluster) AS cluster_start,
  MAX("end") OVER (PARTITION BY chrom, cluster) AS cluster_end
FROM y""", ["start", "end", "id", "cluster", "cluster_start", "cluster_end"]),
    "merge": ("""
WITH x AS (SELECT *, MAX("end") OVER (PARTITION BY chrom ORDER BY start, "end", id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM a),
y AS (SELECT *, SUM(CASE WHEN pm IS NULL OR start > pm THEN 1 ELSE 0 END)
        OVER (PARTITION BY chrom ORDER BY start, "end", id ROWS UNBOUNDED PRECEDING)
        AS cid FROM x)
SELECT MIN(start) AS start, MAX("end") AS "end", COUNT(*) AS n_intervals
FROM y GROUP BY chrom, cid""", ["start", "end", "n_intervals"]),
    "subtract": (f"""
WITH {MERGED_B.format(src="b")},
mm AS (SELECT a.id, a.start AS s1, a."end" AS e1,
         GREATEST(m.start, a.start) AS ms, LEAST(m."end", a."end") AS me
       FROM a JOIN m ON a.chrom = m.chrom AND a.start < m."end" AND m.start < a."end"),
frags AS (
  SELECT id, COALESCE(LAG(me) OVER (PARTITION BY id ORDER BY ms), s1) AS fs, ms AS fe
  FROM mm
  UNION ALL SELECT id, MAX(me), MAX(e1) FROM mm GROUP BY id
  UNION ALL SELECT id, start, "end" FROM a
    WHERE NOT EXISTS (SELECT 1 FROM mm WHERE mm.id = a.id))
SELECT fs AS start, fe AS "end", id FROM frags WHERE fs < fe""",
                 ["start", "end", "id"]),
    "complement": (f"""
WITH {MERGED_B.format(src="a")},
inreg AS (SELECT v.name, v.start AS vs, v."end" AS ve,
            GREATEST(m.start, v.start) AS ms, LEAST(m."end", v."end") AS me
          FROM m JOIN v ON m.chrom = v.chrom AND m.start < v."end" AND v.start < m."end"),
gaps AS (
  SELECT COALESCE(LAG(me) OVER (PARTITION BY name ORDER BY ms), vs) AS gs, ms AS ge
  FROM inreg
  UNION ALL SELECT MAX(me), MAX(ve) FROM inreg GROUP BY name
  UNION ALL SELECT start, "end" FROM v
    WHERE NOT EXISTS (SELECT 1 FROM inreg WHERE inreg.name = v.name))
SELECT gs AS start, ge AS "end" FROM gaps WHERE gs < ge""",
                   ["start", "end"]),
}


def expected(con, op):
    """(rows, {column: sum as str}) of the oracle's version of `op`."""
    sql, cols = QUERIES[op]
    sums = ", ".join(f'CAST(SUM("{c}") AS HUGEINT)' for c in cols)
    row = con.execute(f"SELECT COUNT(*), {sums} FROM ({sql}) q").fetchone()
    return row[0], {c: None if v is None else str(v) for c, v in zip(cols, row[1:])}


def check(inputs_dir, summaries, tmp_dir):
    """Compare the engine's summaries with DuckDB. Returns {op: problem}
    for every interval op that mismatches or was not summarised."""
    import duckdb

    con = duckdb.connect(config={"threads": 4, "temp_directory": str(tmp_dir)})
    try:
        con.execute("SET enable_progress_bar = false")
        for t, alias in (("iv_a", "a"), ("iv_b", "b"), ("view", "v")):
            con.execute(f"CREATE VIEW {alias} AS "
                        f"SELECT * FROM read_parquet('{inputs_dir}/{t}/*.parquet')")
        problems = {}
        for op in QUERIES:
            got = summaries.get(op)
            if got is None:
                problems[op] = "no output summary recorded"
                continue
            rows, sums = expected(con, op)
            if got["rows"] != rows:
                problems[op] = f"rows {got['rows']} != oracle {rows}"
                continue
            bad = [c for c in sums if got["sums"].get(c) != sums[c]]
            if bad:
                problems[op] = "sum mismatch in " + ", ".join(
                    f"{c} ({got['sums'].get(c)} != {sums[c]})" for c in bad)
        return problems
    finally:
        con.close()
