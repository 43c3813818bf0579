"""Output checker: every op's result against a twin computed in DuckDB.

- serve reads: each op carries twin SQL over the same parquet files; the
  twin's rows, canonicalized like the driver's (see Json.scala), must hash
  equal. Cursor walks compare the concatenated pages, relation pages compare
  each row's set of related keys.
- serve's index maintenance: the driver logs each write's change list; it is
  replayed into a DuckDB table and every update's A/M/D diff, lookup and
  indexed page is checked against that table.
- analytics queries: each op's collected rows against the query's
  `SparkEntry.oracleSql`, compared as tools/check.py does (columns sorted by
  name, row order kept) but with doubles allowed one ulp (see
  AnalyticsChecker.matches).
- analytics' corpus batches: LSH has no twin, so the survivors are
  bounded from both sides. From above: they must be a subset of the batch,
  pass the gates (a Python twin of the langid/quality/Gopher kernels), have
  distinct source texts, share no 4-gram with the benchmark set (DuckDB
  twin of Decontam), carry exactly DuckDB's redaction of their source text,
  and leave out at least 90% of the planted near copies (Jaccard >= 0.9,
  where 8x4 LSH bands miss a pair with probability < 2e-4) of corpus
  documents. From below: every batch document that passes the gates, is the
  lowest id of its text among those, is not contaminated and has no other
  document within Jaccard 0.6 (below the operator's 0.7) in the corpus or
  at a lower id in its batch, must survive.

A self-test then plants wrong answers into one checked result of every
family of op (serve: reads, index ops; analytics: queries, corpus batches;
a corpus batch gets a near copy added and a document that must survive
taken out) and requires the checker to reject each.
"""
import copy
import datetime
import decimal
import hashlib
import json
import math
import os
import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)
EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE = r"\b\d{3}-\d{3,4}-\d{4}\b"


def canon(v):
    if v is None or isinstance(v, (bool, str, int)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return v
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return (v - EPOCH.date()).days
    if isinstance(v, dict):
        return [canon(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return str(v)


def digest(rows):
    return hashlib.sha256(json.dumps(canon(rows)).encode()).hexdigest()


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


class Checker:
    """One workload's checks. `expected(op)` computes the twin once,
    `matches(op, actual, expected)` compares; the self-test reuses both."""

    def __init__(self, con, data, work):
        self.con, self.data, self.work = con, Path(data), Path(work)

    def actual(self, op):
        return op.get("result")

    def family(self, op):
        return "result"

    def perturb(self, actual):
        bad = copy.deepcopy(actual)
        bad[0] = ["perturbed"] + list(bad[0])[1:] if isinstance(bad[0], list) else "perturbed"
        return bad

    def perturbations(self, op, actual, expected):
        return [self.perturb(actual)]


class ServeChecker(Checker):
    """Reads carry twin SQL; index-maintenance ops go to MaintainChecker."""

    def __init__(self, con, data, work, extras):
        super().__init__(con, data, work)
        self.index = MaintainChecker(con, data, work, extras["warmup_changes"])

    def family(self, op):
        return "read" if "sql" in op["check"] else "index"

    def expected(self, op):
        if "sql" not in op["check"]:
            return self.index.expected(op)
        rows = canon(self.con.execute(op["check"]["sql"]).fetchall())
        walk = op["check"].get("walk")
        if walk:
            size, pages, back = walk["size"], walk["pages"], walk["back"]
            rows = rows[: size * pages] + [
                r for j in range(1, back + 1)
                for r in rows[(pages - 1 - j) * size:(pages - j) * size]]
        return rows

    def matches(self, op, actual, expected):
        if "sql" not in op["check"]:
            return self.index.matches(op, actual, expected)
        if op["check"].get("unordered_lists"):
            def norm(rows):
                return [[r[0], sorted((r[1] or []), key=json.dumps)] for r in canon(rows)]
            return digest(norm(actual)) == digest(norm(expected))
        return digest(actual) == digest(expected)


class AnalyticsChecker(Checker):
    """Oracle results are cached per (query, oracle SQL, data set) beside the
    data directories, so later runs skip the DuckDB recompute. Corpus batches
    go to CorpusChecker."""

    def __init__(self, con, data, work, extras):
        super().__init__(con, data, work)
        self.oracle = json.loads((self.work / "oracle_sql.json").read_text())
        self.cache = {}
        self.corpus = CorpusChecker(con, data, work)

    def actual(self, op):
        return self.corpus.actual(op) if op["kind"] == "corpus_batch" else op.get("result")

    def family(self, op):
        return "corpus" if op["kind"] == "corpus_batch" else "query"

    def perturbations(self, op, actual, expected):
        if op["kind"] == "corpus_batch":
            return self.corpus.perturbations(op, actual, expected)
        return [self.perturb(actual)]

    def expected(self, op):
        if op["kind"] == "corpus_batch":
            return self.corpus.expected(op)
        q = op["check"]["query"]
        if q not in self.cache:
            sql = self.oracle[q]
            key = hashlib.sha256((sql + self.data.name).encode()).hexdigest()[:20]
            f = self.data.parent / "oracle" / f"{q}-{key}.json"
            if not f.exists():
                cur = self.con.execute(sql)
                cols = [d[0] for d in cur.description]
                f.parent.mkdir(exist_ok=True)
                tmp = f.with_suffix(f".tmp{os.getpid()}")
                tmp.write_text(json.dumps({"columns": cols, "rows": canon(cur.fetchall())}))
                tmp.rename(f)
            self.cache[q] = json.loads(f.read_text())
        return self.cache[q]

    @staticmethod
    def same(x, y):
        if isinstance(x, list) and isinstance(y, list):
            return len(x) == len(y) and all(AnalyticsChecker.same(a, b) for a, b in zip(x, y))
        if isinstance(x, float) or isinstance(y, float):
            if isinstance(x, bool) or isinstance(y, bool) or x is None or y is None \
                    or isinstance(x, str) or isinstance(y, str):
                return x == y
            return abs(x - y) <= math.ulp(max(abs(x), abs(y)))
        return x == y

    def matches(self, op, actual, expected):
        """tools/check.py's comparison — columns ordered by name, row order
        kept — on canonical values, except that doubles may differ by one
        unit in the last place: DuckDB 1.0 does not round DECIMAL(38,s) ->
        DOUBLE casts correctly (q_agg_pricing's exact sum 36317514898.031700
        comes back as 36317514898.03169), so the correctly rounded Spark
        value would otherwise read as wrong."""
        if op["kind"] == "corpus_batch":
            return self.corpus.matches(op, actual, expected)
        cols = op["check"]["columns"]
        if sorted(cols) != sorted(expected["columns"]) or len(actual) != len(expected["rows"]):
            return False
        ia = [cols.index(c) for c in sorted(cols)]
        ie = [expected["columns"].index(c) for c in sorted(cols)]
        return all(self.same([ra[i] for i in ia], [re[i] for i in ie])
                   for ra, re in zip(actual, expected["rows"]))


def shingles(text, w):
    toks = text.split()
    if len(toks) < w:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + w]) for i in range(len(toks) - w + 1)}


# Twin of the corpus batch's gate stage (CorpusOps: langId != "und",
# qualityScore >= 0.3, gopherPass(minWords = 25, minStopwords = 1)), following
# graft.plans.TextExpressions: tokens split on Java's \s after trimming it,
# round() half-up on the shortest decimal form of the double.
JAVA_WS = "[ \t\n\x0b\f\r]+"
LANG_MARKERS = {"the", "and", "of", "is", "to", "der", "die", "und", "das", "nicht",
                "le", "la", "et", "les", "des", "el", "los", "las", "una", "es",
                "的", "是", "在", "了", "和"}
QUALITY_STOPWORDS = {"the", "a", "of", "and", "to", "in", "is", "it"}
GOPHER_STOPWORDS = {"the", "be", "to", "of", "and", "that", "have", "with"}


def gate_tokens(text):
    return re.split(JAVA_WS, re.sub(f"^{JAVA_WS}|{JAVA_WS}$", "", text))


def passes_gates(text):
    toks = gate_tokens(text)
    n = len(toks)
    if not any(t in LANG_MARKERS for t in toks):
        return False
    hits = sum(1 for t in toks if t in QUALITY_STOPWORDS)
    q = min(hits / n * 5.0, 1.0) * 0.5 + min(n / 100.0, 1.0) * 0.5
    if Decimal(repr(q)).quantize(Decimal("0.0001"), ROUND_HALF_UP) < Decimal("0.3"):
        return False
    chars = sum(len(t) for t in toks)
    alpha = sum(1 for t in toks if re.search("[A-Za-z]", t))
    symbols = text.count("#") + text.count("\u2026") + text.count("...")
    lines = text.split("\n")
    bullets = sum(1 for ln in lines if ln.startswith(("- ", "* ", "\u2022")))
    ellipses = sum(1 for ln in lines if ln.endswith(("...", "\u2026")))
    return (25 <= n <= 100000 and 3.0 <= chars / n <= 10.0 and symbols / n <= 0.1
            and alpha / n >= 0.8 and len(GOPHER_STOPWORDS.intersection(toks)) >= 1
            and bullets / len(lines) <= 0.9 and ellipses / len(lines) <= 0.3)


# Pairs of documents this similar may be near-dedup's to drop; the operator
# verifies at Jaccard 0.7 over 3-token shingles. In the generated data every
# pair above 0.6 comes from the planted copies (and is above 0.9).
NEAR_JACCARD = 0.6


def near_pairs(con, data):
    """(a, b), a < b: every pair of documents with 3-shingle Jaccard >=
    NEAR_JACCARD, cached beside the data directories like the oracles."""
    f = data.parent / "oracle" / f"near-pairs-{data.name}.json"
    if not f.exists():
        sh = {i: shingles(t, 3) for i, t in con.execute("SELECT doc_id, text FROM documents")
              .fetchall()}
        posting = defaultdict(list)
        for i, s in sh.items():
            for g in s:
                posting[g].append(i)
        pairs = []
        for i, s in sh.items():
            for j, c in Counter(j for g in s for j in posting[g] if j > i).items():
                if c / (len(s) + len(sh[j]) - c) >= NEAR_JACCARD:
                    pairs.append((i, j))
        f.parent.mkdir(exist_ok=True)
        tmp = f.with_suffix(f".tmp{os.getpid()}")
        tmp.write_text(json.dumps(sorted(pairs)))
        tmp.rename(f)
    return json.loads(f.read_text())


class CorpusChecker(Checker):
    def __init__(self, con, data, work):
        super().__init__(con, data, work)
        self.similar = near_pairs(con, self.data)
        pairs = json.loads((self.data / "_near_copies.json").read_text())
        ids = sorted({i for p in pairs for i in p})
        text = dict(con.execute(
            f"SELECT doc_id, text FROM documents WHERE doc_id IN ({','.join(map(str, ids))})"
        ).fetchall())
        self.near = []
        for c, o in pairs:
            a, b = shingles(text[c], 3), shingles(text[o], 3)
            if len(a & b) / len(a | b) >= 0.9:
                self.near.append((c, o))

    def actual(self, op):
        rows = self.con.execute(
            f"SELECT doc_id, lang, text FROM read_parquet('{op['check']['path']}/*.parquet') "
            "ORDER BY doc_id").fetchall()
        op["rows"] = len(rows)
        return rows

    def perturbations(self, op, actual, expected):
        # a near copy the batch should have dropped; a document it must keep
        bad = [actual + [[self.near[0][0], "en", "planted"]]]
        keep = [row for row in actual if row[0] in expected["must_keep"]]
        if keep:
            bad.append([row for row in actual if row[0] != keep[0][0]])
        return bad

    def expected(self, op):
        c = op["check"]
        m, r, bm, b = c["slices"], c["slice"], c["bench_mod"], c["bench"]
        contaminated = {row[0] for row in self.con.execute(f"""
            WITH sh AS (
              SELECT doc_id, list_distinct(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
                ELSE list_transform(range(1, len(toks) - 2),
                                    i -> array_to_string(list_slice(toks, i, i + 3), ' ')) END) AS sh
              FROM (SELECT doc_id, regexp_split_to_array(
                      regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS toks
                    FROM documents WHERE doc_id % {m} = {r} OR doc_id % {bm} = {b})),
            bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % {bm} = {b}),
            grams AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % {m} = {r})
            SELECT DISTINCT grams.doc_id FROM grams JOIN bench USING (g)""").fetchall()}
        redacted = {row[0]: (row[1], row[2], row[3]) for row in self.con.execute(f"""
            SELECT doc_id, lang, text,
              regexp_replace(regexp_replace(regexp_replace(text, '{EMAIL}', '<EMAIL>', 'g'),
                '{IPV4}', '<IP>', 'g'), '{PHONE}', '<PHONE>', 'g')
            FROM documents WHERE doc_id % {m} = {r}""").fetchall()}
        must_drop = {cp for cp, o in self.near if cp % m == r and o % m != r}
        gates = {i for i, (_, text, _) in redacted.items() if passes_gates(text)}
        first = {}
        for i in sorted(gates):
            first.setdefault(redacted[i][1], i)
        similar = set()
        for a, b in self.similar:
            if b % m == r:
                similar.add(b)
            elif a % m == r:
                similar.add(a)
        must_keep = set(first.values()) - contaminated - similar
        return {"contaminated": contaminated, "batch": redacted, "must_drop": must_drop,
                "gates": gates, "must_keep": must_keep}

    def matches(self, op, actual, expected):
        ids = [row[0] for row in actual]
        batch = expected["batch"]
        if not ids or len(set(ids)) != len(ids) or any(i not in batch for i in ids):
            return False
        if len({batch[i][1] for i in ids}) != len(ids):  # exact dedup: distinct source texts
            return False
        if expected["contaminated"] & set(ids) or not set(ids) <= expected["gates"]:
            return False
        if expected["must_keep"] - set(ids):
            return False
        if any([batch[i][0], batch[i][2]] != [lang, text] for i, lang, text in
               (tuple(row) for row in actual)):
            return False
        drop = expected["must_drop"]
        return not drop or len(drop - set(ids)) / len(drop) >= 0.9


class MaintainChecker(Checker):
    """Index-maintenance ops, checked in order: the DuckDB table `snap`
    follows the writes, starting after the warm-up's."""

    def __init__(self, con, data, work, warmup_changes):
        super().__init__(con, data, work)
        con.execute("CREATE TABLE snap AS SELECT p_partkey, p_name FROM part")
        self.apply(warmup_changes)

    def apply(self, changes):
        for k, v in changes:
            self.con.execute("DELETE FROM snap WHERE p_partkey = ?", [k])
            if v is not None:
                self.con.execute("INSERT INTO snap VALUES (?, ?)", [k, v])

    def expected(self, op):
        c = op["check"]
        q = self.con.execute
        if "changes" in c:
            before = dict(q("SELECT p_partkey, p_name FROM snap").fetchall())
            self.apply(c["changes"])
            after = dict(q("SELECT p_partkey, p_name FROM snap").fetchall())
            diff = [["A", str(k), [["p_name", [after[k]]]]] for k in after if k not in before]
            diff += [["D", str(k), [["p_name", [before[k]]]]] for k in before if k not in after]
            diff += [["M", str(k), [["p_name", [after[k]]]]] for k in after
                     if k in before and before[k] != after[k]]
            return sorted(diff, key=json.dumps)
        if "lookup" in c:
            pred = "starts_with(p_name, ?)" if c["starts_with"] else "p_name = ?"
            return sorted(canon(q(
                "SELECT 'p_name', lower(substr(p_name, 1, 1)), CAST(p_partkey AS VARCHAR), p_name "
                f"FROM snap WHERE {pred}", [c["lookup"]]).fetchall()), key=json.dumps)
        return canon(q("SELECT p_partkey, p_name FROM snap WHERE starts_with(p_name, ?) "
                       "ORDER BY p_name ASC NULLS LAST, p_partkey ASC LIMIT 20",
                       [c["where_prefix"]]).fetchall())

    def matches(self, op, actual, expected):
        if "where_prefix" in op["check"]:
            return digest(actual) == digest(expected)
        return digest(sorted(canon(actual), key=json.dumps)) == digest(expected)


CHECKERS = {"serve": ServeChecker, "analytics": AnalyticsChecker}


def check(workload, ops, data, work, extras):
    con = connect(data)
    checker = CHECKERS[workload](con, data, work, extras)
    wrong, mismatches, planted = 0, [], {}
    for op in ops:
        if not op["ok"]:
            continue
        actual = checker.actual(op)
        expected = checker.expected(op)
        if not checker.matches(op, actual, expected):
            wrong += 1
            mismatches.append(op["id"] + " " + op["kind"])
        elif len(actual) > 0:
            planted.setdefault(checker.family(op), (op, actual, expected))
    missed = [f"{fam} #{k}" for fam, (op, actual, expected) in sorted(planted.items())
              for k, bad in enumerate(checker.perturbations(op, actual, expected))
              if checker.matches(op, bad, expected)]
    selftest = ("no result to perturb" if not planted else
                f"missed {', '.join(missed)}" if missed else "caught")
    con.close()
    return {"wrong": wrong, "mismatches": mismatches, "selftest": selftest}
