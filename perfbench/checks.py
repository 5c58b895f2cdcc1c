"""Correctness gate for perfbench: every operation's output is recomputed
independently and compared.

- etl:    ETL aggregates recomputed by DuckDB from the generated CSVs, with
          the cleaning semantics of graft.etl.ReferenceShapedData.oracleCtes,
          against DuckDB reading the committed parquet file-set: totals per
          (platform, state, year), per product key and per customer key,
          dimension counts, and every product's category and subcategory
          under an independent port of graft.etl.SalesTaxonomy's rules.
- visual: each dashboard visual recomputed by DuckDB from the committed
          parquet.
- build:  language gate and exact dedup recomputed by DuckDB; the MinHash
          near-dup result checked against the engine's exact path
          (Dedup.jaccardPairs): no false merges, bounded misses.
- search: BM25 recomputed by DuckDB; IVF and PQ results checked against
          the engine's exact path (Similarity.bruteTopK) for recall, and
          their scores recomputed exactly.

verify() also runs a negative self-test: one corrupted copy per check kind
must fail with that kind's mismatch message, or the gate itself is broken.
"""
import copy
import math
import os

import duckdb
import numpy as np

LANGS = [("en", ["the", "and", "of", "to", "in", "is", "a", "for"]),
         ("de", ["der", "die", "und", "das", "ist", "ein", "zu", "nicht"]),
         ("es", ["el", "la", "de", "que", "y", "los", "es", "una"]),
         ("fr", ["le", "la", "et", "les", "des", "est", "une", "dans"]),
         ("zh", ["的", "是", "了", "在", "我", "有", "和", "不"])]
# Recall floors. The lowest recall one probe batch (or one build) reached
# over the seeded runs of this tree was 0.98 for MinHash, 0.73 for IVF and
# 0.81 for PQ, against per-run medians near 0.99, 0.91 and 0.91. Each floor
# sits below that minimum by a margin that keeps a seed the runs did not
# try from failing (a probe batch has only 16 queries). The floors catch a
# gross loss of quality, not a few points of recall traded for speed.
# Exactness is enforced by the id and score checks.
RECALL_MIN = {"near_dup": 0.95, "ivf": 0.65, "pq": 0.7}

# graft.etl.SalesTaxonomy's rules as (value, LIKE patterns) in pass order;
# an "=x" pattern is an equality test. Names and SKUs are lower-cased.
CATEGORY_P1 = [("Furniture", ["cn%", "nb%"]), ("Outdoor & Garden", ["hz%"]),
               ("Automotive", ["sz%"]), ("Spare Parts", ["hifine%"])]
CATEGORY_P2 = [
    ("Furniture", ["%sofa%", "%chair%", "%table%", "%bench%", "%mattress%", "%cabinet%"]),
    ("Outdoor & Garden", ["%gazebo%", "%garden%"]),
    ("Automotive", ["%car%", "%spoiler%"]), ("Lighting", ["%light%"]),
    ("Spare Parts", ["%spare%"]), ("Storage & Organization", ["%storage%"])]
CATEGORY_P3_NAME = [
    ("Automotive", ["%bumper diffuser%", "%rear bumper diffuser%", "%running boards%"]),
    ("Lighting", ["%wafer light%", "%mounting plate%", "%led panel light%", "%panel light%"]),
    ("Outdoor & Garden", ["%gazebo%", "%pergola%", "10*12%", "%metal roof%"]),
    ("Storage & Organization", ["%loading ramp%", "%loading ramps%", "%ramp%", "=rack"])]
SUB_OUTDOOR = [
    ("Gazebo / Pergola", ["%gazebo%", "%pergola%"]),
    ("Patio / Outdoor", ["%patio%", "%outdoor%"]),
    ("Garden", ["%garden%", "%planter%", "%raised bed%"]),
    ("Heating", ["%fire pit%", "%heater%"]), ("Umbrella", ["%umbrella%"]),
    ("Grill / BBQ", ["%grill%", "%bbq%"]), ("Swing / Hammock", ["%swing%", "%hammock%"]),
    ("Pool / Spa", ["%pool%", "%spa%"])]
SUB_FURNITURE = [("Sofa", ["%sofa%"]), ("Chair", ["%chair%"]), ("Table", ["%table%"]),
                 ("Cabinet", ["%cabinet%"]), ("Bench", ["%bench%"]),
                 ("Mattress", ["%mattress%"])]
SUB_FURNITURE_REFINE = [
    ("Bed", ["%bed frame%", "%bed%"]),
    ("Dining Furniture", ["%dining set%", "%dining table%", "%dining%"]),
    ("Occasional Tables", ["%coffee table%", "%end table%", "%side table%"]),
    ("Accent Chair", ["%accent chair%"]), ("Ottoman", ["%ottoman%"]),
    ("Loveseat", ["%loveseat%"]), ("Recliner", ["%recliner%"]),
    ("Chaise Lounge", ["%chaise%"]), ("Sectional Sofa", ["%sectional%"]),
    ("Daybed", ["%daybed%"]), ("Futon", ["%futon%"]),
    ("Console Table", ["%console table%", "%entry table%"]),
    ("TV Stand / Media Console", ["%tv stand%", "%media%", "%console%"]),
    ("Wardrobe", ["%wardrobe%", "%closet%"]), ("Dresser", ["%dresser%", "%chest%"]),
    ("Nightstand", ["%nightstand%", "%bedside%"]), ("Storage Bench", ["%storage bench%"]),
    ("Storage Furniture", ["%storage%", "%organizer%"]),
    ("Shelving", ["%bookshelf%", "%shelf%"]), ("Kids Furniture", ["%kids%", "%child%"]),
    ("Furniture Sets", ["%set%", "%bundle%"])]


def q(s):
    return "'" + str(s).replace("'", "''") + "'"


def qlist(paths):
    return "[" + ",".join(q(p) for p in paths) + "]"


def first_match(expr, rules, otherwise):
    """SQL CASE: the value of the first rule whose pattern matches `expr`."""
    whens = " ".join(
        "WHEN " + " OR ".join(f"{expr} = {q(p[1:])}" if p.startswith("=")
                              else f"{expr} LIKE {q(p)}" for p in pats) + f" THEN {q(v)}"
        for v, pats in rules)
    return f"CASE {whens} ELSE {otherwise} END"


def taxonomy_sql(products):
    """(main_sku_code, english_name, category, subcategory) per product:
    SalesTaxonomy's category passes 1-4 and subcategory passes A-D."""
    p1 = first_match("sku", CATEGORY_P1, "NULL")
    p2 = f"COALESCE({p1}, {first_match('nm', CATEGORY_P2, q('Other'))})"
    # pass 3: the SKU override is the first rule, then the name overrides
    p3 = f"""CASE WHEN sku LIKE 'cn1139-%' THEN 'Automotive'
        ELSE {first_match('nm', CATEGORY_P3_NAME, p2)} END"""
    a = f"""CASE WHEN category = 'Outdoor & Garden'
        THEN {first_match('nm', SUB_OUTDOOR, q('Other Outdoor'))} END"""
    b = f"""CASE WHEN category = 'Furniture'
        THEN {first_match('nm', SUB_FURNITURE, q('Other Furniture'))} ELSE {a} END"""
    c = f"""CASE WHEN category = 'Furniture' AND b = 'Other Furniture'
        THEN {first_match('nm', SUB_FURNITURE_REFINE, q('Other Furniture'))} ELSE b END"""
    return f"""SELECT main_sku_code, english_name, category,
          CASE WHEN category = 'Furniture' AND c = 'Other Furniture'
               THEN 'Furniture Sets & General' ELSE c END AS subcategory
        FROM (SELECT *, {c} AS c FROM (SELECT *, {b} AS b FROM (
          SELECT *, COALESCE({p3}, 'Other') AS category FROM (
            SELECT main_sku_code, english_name, lower(main_sku_code) AS sku,
                   lower(english_name) AS nm FROM ({products})))))"""


class Gate:
    def __init__(self):
        self.con = duckdb.connect()
        # runs after the benchmark JVM has exited, so every core is free
        self.con.execute(f"SET threads TO {os.cpu_count() or 1}")
        self.cache = {}
        self.recall = {}

    def rows(self, sql):
        return [tuple(r) for r in self.con.execute(sql).fetchall()]

    # ------------------------------------------------------------- etl
    def etl_expected(self, csvs, products):
        key = ("etl", tuple(csvs), products)
        if key in self.cache:
            return self.cache[key]
        read = lambda fs: " UNION ALL BY NAME ".join(
            f"""SELECT * FROM read_csv({q(f)}, header=true, all_varchar=true,
                quote='"', escape='"', delim=',')""" for f in fs)
        stg = lambda fs: f"""
          stg AS (SELECT orderNo, commercePlatform,
              CASE WHEN regexp_matches(trim(submitTime, ' \t\r\n'), '^[0-9]')
                   THEN COALESCE(TRY_STRPTIME(trim(submitTime, ' \t\r\n'), '%Y-%m-%d %H:%M:%S'),
                                 TRY_CAST(trim(submitTime, ' \t\r\n') AS TIMESTAMP)) END AS ts,
              CASE WHEN regexp_matches(upper(trim(State, ' \t\r\n')), '^[A-Z]{{2}}$')
                   THEN upper(trim(State, ' \t\r\n')) END AS state_code,
              COALESCE(CAST(TRY_CAST(goodsNumber AS DOUBLE) AS INTEGER), 1) AS units,
              CAST(CAST(('0x' || substring(md5(COALESCE(name, 'nan') || '|' ||
                  COALESCE(oneAddress, 'nan') || '|' || COALESCE(postalCode, 'nan')), 1, 16))
                  AS UBIGINT) % 9223372036854775808 AS BIGINT) AS customer_id,
              COALESCE(NULLIF(trim(masterSku), ''), NULLIF(trim(sku), '')) AS product_key
            FROM ({read(fs)})),
          fact AS (SELECT * FROM stg WHERE ts IS NOT NULL AND commercePlatform IS NOT NULL
              AND commercePlatform <> '' AND product_key IS NOT NULL)"""
        all_ = stg(csvs)
        master = f"""SELECT trim(mainSkuCode, ' \t\r\n') AS k,
              substring(trim("English Name", ' \t\r\n'), 1, 255) AS name
            FROM read_csv({q(products)},
            header=true, all_varchar=true, quote='"', escape='"', delim=',')"""
        # dim_product: the master's products with their names, plus the keys
        # the orders add unnamed
        named = f"""SELECT k AS main_sku_code, name AS english_name FROM ({master})
            WHERE k IS NOT NULL AND k <> '' QUALIFY row_number() OVER (PARTITION BY k) = 1"""
        taxonomy = taxonomy_sql(f"""{named} UNION ALL SELECT DISTINCT product_key, NULL
            FROM (WITH {all_} SELECT product_key FROM stg WHERE product_key <> '')
            WHERE product_key NOT IN (SELECT main_sku_code FROM ({named}))""")
        out = {
            "fact": sorted(self.rows(f"""WITH {all_}
                SELECT commercePlatform, state_code, year(ts), CAST(SUM(units) AS BIGINT),
                       COUNT(*) FROM fact GROUP BY ALL"""), key=repr),
            "dim_platform": self.rows(f"""WITH {all_} SELECT COUNT(DISTINCT commercePlatform)
                FROM stg WHERE commercePlatform <> ''""")[0][0],
            "dim_customer": self.rows(
                f"WITH {all_} SELECT COUNT(DISTINCT customer_id) FROM stg")[0][0],
            "dim_product": self.rows(f"""WITH {all_} SELECT COUNT(*) FROM (
                SELECT product_key FROM stg WHERE product_key <> '' UNION
                SELECT k FROM ({master}) WHERE k IS NOT NULL AND k <> '')""")[0][0],
            "taxonomy": sorted(self.rows(taxonomy), key=repr),
            "units_by_product": sorted(self.rows(f"""WITH {all_} SELECT product_key,
                CAST(SUM(units) AS BIGINT), COUNT(*) FROM fact GROUP BY ALL""")),
            "units_by_customer": sorted(self.rows(f"""WITH {all_} SELECT customer_id,
                CAST(SUM(units) AS BIGINT), COUNT(*) FROM fact GROUP BY ALL""")),
            "units_by_category": sorted(self.rows(f"""WITH {all_}, tx AS ({taxonomy})
                SELECT tx.category, tx.subcategory, CAST(SUM(units) AS BIGINT)
                FROM fact JOIN tx ON fact.product_key = tx.main_sku_code GROUP BY ALL"""),
                key=repr),
        }
        # dim_date: each load adds the calendar of its own submitTime range
        days = set()
        for f in csvs:
            lo, hi = self.rows(f"""WITH {stg([f])}
                SELECT CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE) FROM stg""")[0]
            days.update(range(lo.toordinal(), hi.toordinal() + 1))
        out["dim_date"] = len(days)
        self.cache[key] = out
        return out

    def etl_actual(self, tables):
        t = {k: qlist(v) for k, v in tables.items()}
        out = {}
        out["fact"] = sorted(self.rows(f"""SELECT pl.platform_name, f.state_code, year(f.date_id),
              CAST(SUM(f.units) AS BIGINT), COUNT(*)
            FROM read_parquet({t['fact_sales']}, hive_partitioning=true) f
            JOIN read_parquet({t['dim_platform']}) pl USING (platform_id) GROUP BY ALL"""), key=repr)
        for d in ("dim_platform", "dim_customer", "dim_product", "dim_date"):
            out[d] = self.rows(f"SELECT COUNT(*) FROM read_parquet({t[d]})")[0][0]
        fact = f"read_parquet({t['fact_sales']}, hive_partitioning=true)"
        prod = f"read_parquet({t['dim_product']})"
        out["taxonomy"] = sorted(self.rows(f"""SELECT main_sku_code, english_name, category,
            subcategory FROM {prod}"""), key=repr)
        out["units_by_product"] = sorted(self.rows(f"""SELECT p.main_sku_code,
            CAST(SUM(f.units) AS BIGINT), COUNT(*) FROM {fact} f
            JOIN {prod} p USING (product_id) GROUP BY ALL"""))
        out["units_by_customer"] = sorted(self.rows(f"""SELECT customer_id,
            CAST(SUM(units) AS BIGINT), COUNT(*) FROM {fact} GROUP BY ALL"""))
        out["units_by_category"] = sorted(self.rows(f"""SELECT p.category, p.subcategory,
            CAST(SUM(f.units) AS BIGINT) FROM {fact} f
            JOIN {prod} p USING (product_id) GROUP BY ALL"""), key=repr)
        return out

    def check_etl(self, rec, mutate=False):
        want = self.etl_expected(rec["csvs"], rec["products"])
        got = self.etl_actual(rec["tables"])
        if mutate:
            got = copy.deepcopy(got)
            r = got["fact"][0]
            got["fact"][0] = r[:3] + (r[3] + 1,) + r[4:]
        bad = [k for k in want if want[k] != got[k]]
        return None if not bad else f"etl mismatch in {bad}"

    # ---------------------------------------------------------- visuals
    def visual_expected(self, rec):
        t = {k: qlist(v) for k, v in rec["tables"].items()}
        v, y, cat, plats = rec["visual"], rec["year"], rec["category"], rec["platforms"]
        key = ("visual", v, y, cat, tuple(plats), repr(t))
        if key in self.cache:
            return self.cache[key]
        fact = f"read_parquet({t['fact_sales']}, hive_partitioning=true)"
        prod = f"read_parquet({t['dim_product']})"
        view = f"""(SELECT f.date_id, d.day_of_week, d.day_name, d.year, f.state_code,
              p.category, p.subcategory, pl.platform_name AS platform, f.units
            FROM {fact} f JOIN read_parquet({t['dim_date']}) d USING (date_id)
            JOIN {prod} p USING (product_id)
            JOIN read_parquet({t['dim_platform']}) pl USING (platform_id)
            WHERE d.year = {int(y)})"""
        share = lambda k: f"""SELECT {k}, SUM(units) AS units,
            ROUND(CAST(SUM(units) AS DOUBLE) / SUM(SUM(units)) OVER () * 100, 2)
            FROM {view} GROUP BY {k}"""
        sql = {
            "units_by_state": share("state_code"),
            "platform_share": share("platform"),
            "platform_by_state_pivot": "SELECT state_code, " + ", ".join(
                f"CAST(COALESCE(SUM(units) FILTER (WHERE platform = {q(p)}), 0) AS BIGINT)"
                for p in plats) + f""" FROM {view} WHERE platform IN ({','.join(q(p) for p in plats)})
                GROUP BY state_code""",
            "subcategory_units": f"""SELECT subcategory, SUM(units) FROM {view}
                WHERE category = {q(cat)} GROUP BY subcategory""",
            "dow_trend": f"SELECT day_of_week, day_name, SUM(units) FROM {view} GROUP BY ALL",
            "platform_rank_by_state": f"""SELECT state_code, platform, units FROM (
                SELECT state_code, platform, SUM(units) AS units FROM {view} GROUP BY ALL)
                QUALIFY row_number() OVER (PARTITION BY state_code
                  ORDER BY units DESC, platform) = 1""",
            "a2_sku_count": f"""SELECT subcategory, COUNT(*) FROM {prod}
                WHERE category = 'Furniture' GROUP BY subcategory""",
            "a3_units_per_subcategory": f"""SELECT subcategory, SUM(units) FROM {fact} f
                JOIN {prod} p USING (product_id) WHERE category = 'Furniture' GROUP BY subcategory""",
            "a4_top_other_furniture": f"""SELECT english_name, main_sku_code, SUM(units) AS u
                FROM {fact} f JOIN {prod} p USING (product_id) WHERE category = 'Furniture'
                  AND subcategory = 'Furniture Sets & General'
                GROUP BY ALL ORDER BY u DESC, main_sku_code LIMIT 200""",
            "fact_year_months": f"""SELECT p_month, SUM(units), COUNT(*) FROM {fact}
                WHERE p_year = {int(y)} GROUP BY p_month""",
        }[v]
        out = self.rows(sql)
        self.cache[key] = out
        return out

    def check_visual(self, rec, mutate=False):
        want = self.visual_expected(rec)
        got = [tuple(r) for r in rec["rows"]]
        if mutate:
            got = [tuple(x + 1 if isinstance(x, int) and not isinstance(x, bool) else x
                         for x in got[0])] + got[1:] if got else [("extra",)]
        # shares are rounded to 2 decimals: allow one unit in the last place
        tol = 0.0101 if rec["visual"] in ("units_by_state", "platform_share") else 1e-9
        return None if same_rows(got, want, tol) else f"visual {rec['visual']} mismatch"

    # ----------------------------------------------------------- corpus
    def docs_view(self, docs_csv, deltas=()):
        """Table `docs`: the corpus CSV plus any crawl-drop CSVs."""
        key = ("docs", docs_csv, tuple(deltas))
        if self.cache.get("docs") != key:
            self.con.execute(f"""CREATE OR REPLACE TABLE docs AS SELECT CAST(doc_id AS BIGINT) AS doc_id,
                text, CAST(n_chars AS BIGINT) AS n_chars FROM read_csv({qlist([docs_csv, *deltas])},
                header=true, all_varchar=true, quote='"', escape='"', delim=',')""")
            self.cache["docs"] = key

    def lang_en(self, docs_csv):
        key = ("en", docs_csv)
        if key not in self.cache:
            self.docs_view(docs_csv)
            cnts = ", ".join(
                f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
                f"x -> x IN ({','.join(q(w) for w in sw)}))) AS c_{l}" for l, sw in LANGS)
            g = "GREATEST(" + ",".join(f"c_{l}" for l, _ in LANGS) + ")"
            cases = " ".join(f"WHEN c_{l} = {g} THEN '{l}'" for l, _ in LANGS)
            self.cache[key] = sorted(r[0] for r in self.rows(f"""WITH c AS (SELECT doc_id, {cnts}
                FROM docs) SELECT doc_id FROM c WHERE (CASE WHEN {g} = 0 THEN 'unk' {cases} END) = 'en'"""))
        return self.cache[key]

    def exact_kept(self, docs_csv):
        key = ("exact", docs_csv)
        if key not in self.cache:
            en = self.lang_en(docs_csv)
            self.docs_view(docs_csv)
            self.con.execute("CREATE OR REPLACE TEMP TABLE en_ids AS SELECT UNNEST(?) AS doc_id", [en])
            self.cache[key] = sorted(r[0] for r in self.rows("""SELECT doc_id FROM (
                SELECT doc_id, row_number() OVER (
                  PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                  ORDER BY n_chars DESC, doc_id) AS rn
                FROM docs JOIN en_ids USING (doc_id)) WHERE rn = 1"""))
        return self.cache[key]

    def check_reference(self, ref, docs_csv):
        """The engine's language gate and exact dedup, recomputed by DuckDB."""
        key = ("reference", docs_csv)
        if key not in self.cache:
            errs = []
            if ref["en"] != self.lang_en(docs_csv):
                errs.append("language gate")
            if ref["exact_kept"] != self.exact_kept(docs_csv):
                errs.append("exact dedup")
            self.cache[key] = errs
        return self.cache[key]

    def check_build(self, rec, ref, mutate=False):
        if mutate:
            rec = copy.deepcopy(rec)
            rec["reps"] = rec["reps"][1:]
        errs = list(self.check_reference(ref, rec["docs_csv"]))
        kept = ref["exact_kept"]
        self.docs_view(rec["docs_csv"])
        n_chars = dict(self.rows("SELECT doc_id, n_chars FROM docs"))
        reps = {r[0]: r[1] for r in rec["reps"]}
        if sum(reps.values()) != len(kept) or not set(reps) <= set(kept) or \
                sorted(reps) != rec["curated"]:
            errs.append("near-dup membership")
        comps = components(kept, ref["exact_pairs"])
        multi = [c for c in comps if len(c) > 1]
        one = 0
        for c in comps:
            rs = [d for d in c if d in reps]
            if not rs:
                errs.append("near-dup false merge")
                break
            if len(rs) == 1 and len(c) > 1:
                one += 1
                best = min(c, key=lambda d: (-n_chars[d], d))
                if rs[0] != best:
                    errs.append("near-dup representative")
                    break
        if not mutate and multi:
            self.recall.setdefault("near_dup", []).append(one / len(multi))
        if multi and one / len(multi) < RECALL_MIN["near_dup"]:
            errs.append(f"near-dup recall {one / len(multi):.3f} < {RECALL_MIN['near_dup']}")
        return "; ".join(errs) or None

    def check_search(self, rec, build, ref, mutate=False):
        if mutate:
            rec = copy.deepcopy(rec)
            rec["bm25"][0][3] += 0.001
        errs = []
        curated = build["curated"]
        deltas = rec["deltas"]
        delta_ids = [r[0] for r in self.rows(f"""SELECT CAST(doc_id AS BIGINT) FROM
            read_csv({qlist(deltas)}, header=true, all_varchar=true)""")] if deltas else []
        if not same_rows([tuple(r) for r in rec["bm25"]],
                         self.bm25(build["docs_csv"], deltas, curated + delta_ids,
                                   rec["probes"]), 1e-9):
            errs.append("bm25")
        vec = self.vectors(build["vecs_csv"])
        cur = set(curated)
        qv = {r[0]: np.array(r[1], dtype=np.float32).astype(np.float64) for r in rec["queries"]}
        exact = {}
        for qid, _, nid, _ in dict((b, rows) for b, rows in ref["exact_topk"])[rec["batch"]]:
            exact.setdefault(qid, set()).add(nid)
        for name, col, fn in (("ivf", "cos", cosine), ("pq", "l2sq", l2sq)):
            res = rec[name]
            if any(r[2] not in cur for r in res):
                errs.append(f"{name} returned a non-curated id")
                continue
            if any(abs(r[3] - round(fn(qv[r[0]], vec[r[2]]), 6)) > 2e-6 for r in res):
                errs.append(f"{name} {col} differs from the exact value")
            got = {}
            for qid, _, nid, _ in res:
                got.setdefault(qid, set()).add(nid)
            recall = float(np.mean([len(got.get(k, set()) & v) / len(v) for k, v in exact.items()]))
            if not mutate:
                self.recall.setdefault(name, []).append(recall)
            if recall < RECALL_MIN[name]:
                errs.append(f"{name} recall {recall:.3f} < {RECALL_MIN[name]}")
        return "; ".join(errs) or None

    def vectors(self, vecs_csv):
        key = ("vecs", vecs_csv)
        if key not in self.cache:
            out = {}
            with open(vecs_csv, encoding="utf-8") as f:
                next(f)
                for line in f:
                    i, e = line.rstrip("\n").split(",", 1)
                    out[int(i)] = np.array([float(x) for x in e.split(";")],
                                           dtype=np.float32).astype(np.float64)
            self.cache[key] = out
        return self.cache[key]

    def bm25(self, docs_csv, deltas, corpus, probes):
        key = ("bm25", docs_csv, tuple(deltas), repr(probes), len(corpus), sum(corpus))
        if key in self.cache:
            return self.cache[key]
        self.docs_view(docs_csv, deltas)
        self.con.execute("CREATE OR REPLACE TEMP TABLE cur AS SELECT UNNEST(?) AS doc_id", [corpus])
        vals = ", ".join(f"({int(p)}, {q(t.strip().lower())})" for p, ts in probes for t in ts)
        out = self.rows(f"""WITH base AS (SELECT doc_id AS doc,
              list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '') AS toks
            FROM docs JOIN cur USING (doc_id)),
          b AS (SELECT doc, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
          st AS (SELECT COUNT(*) AS n, COALESCE(SUM(dl), 0) AS tl FROM b),
          t(probe, term) AS (SELECT DISTINCT * FROM (VALUES {vals})),
          u AS (SELECT DISTINCT term FROM t),
          dfreq AS (SELECT term, (SELECT COUNT(*) FROM b WHERE list_contains(b.toks, u.term)) AS df FROM u),
          idf AS (SELECT term, ROUND(ln(CAST(st.n + 1 AS DOUBLE) / (dfreq.df + 0.5)), 6) AS idf
            FROM dfreq CROSS JOIN st),
          tf AS (SELECT doc, dl, term, CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS tf
            FROM b CROSS JOIN u WHERE list_contains(b.toks, u.term)),
          c AS (SELECT t.probe, tf.doc,
              CAST(ROUND(idf.idf * ((10.0 * st.tl * tf.tf) /
                (10.0 * st.tl * tf.tf + 3.0 * st.tl + 9.0 * tf.dl * st.n)), 6) AS DECIMAL(18,6)) AS contrib
            FROM tf JOIN idf USING (term) JOIN t USING (term) CROSS JOIN st),
          g AS (SELECT probe, doc, CAST(COUNT(*) AS BIGINT) AS n_hit,
              CAST(CAST(SUM(contrib) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS score
            FROM c GROUP BY probe, doc)
          SELECT CAST(probe AS BIGINT), doc, n_hit, score FROM g
          QUALIFY row_number() OVER (PARTITION BY probe ORDER BY score DESC, doc) <= 10""")
        self.cache[key] = out
        return out


def cosine(a, b):
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


def l2sq(a, b):
    d = a - b
    return float(np.dot(d, d))


def components(nodes, pairs):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for n in nodes:
        groups.setdefault(find(n), []).append(n)
    return list(groups.values())


def norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, int):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, float) or type(v).__name__ == "Decimal":
        return float(v)
    return str(v)


def same_rows(got, want, tol):
    """Row multisets equal: integers and strings exactly, floats within the
    absolute tolerance `tol`."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple((0, "") if isinstance(x, float) else (1, repr(x))
                          for x in (norm(v) for v in r))
    g, w = sorted(got, key=key), sorted(want, key=key)
    for rg, rw in zip(g, w):
        if len(rg) != len(rw):
            return False
        for a, b in zip(map(norm, rg), map(norm, rw)):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not abs(float(a) - float(b)) <= tol:
                    return False
            elif a != b:
                return False
    return True


# What each kind's check must report for its corrupted copy in the
# negative self-test: the fact bump, a bumped visual value, a dropped
# near-dup representative, a shifted BM25 score.
SELF_TEST_MSG = {"etl": "etl mismatch in ['fact']", "visual": "mismatch",
                 "build": "near-dup membership", "search": "bm25"}


def check(gate, kind, rec, build, ref, mutate=False):
    if kind == "etl":
        return gate.check_etl(rec, mutate=mutate)
    if kind == "visual":
        return gate.check_visual(rec, mutate=mutate)
    if kind == "build":
        return gate.check_build(rec, ref, mutate=mutate)
    return gate.check_search(rec, build, ref, mutate=mutate)


def verify(res):
    """Check every recorded operation. Returns (failed_count, self_test_ok,
    notes); the notes end with the lowest and median recall seen per
    approximate operator."""
    gate = Gate()
    ref = next((r for r in res["checks"] if r["kind"] == "reference"), None)
    failed, notes, first = 0, [], {}
    build = None
    for rec in res["checks"]:
        kind = rec["kind"]
        if kind == "reference":
            continue
        if kind == "build":
            build = rec
        try:
            err = check(gate, kind, rec, build, ref)
        except Exception as e:  # an unreadable output is a wrong output
            err = f"{kind}: {type(e).__name__}: {e}"
        if err:
            failed += 1
            notes.append(err)
        else:
            first.setdefault(kind, (rec, build))
    # negative self-test: a corrupted copy of one passing record per kind
    # must fail with that kind's mismatch message
    self_ok = bool(first)
    for kind, (rec, build) in first.items():
        try:
            err = check(gate, kind, rec, build, ref, mutate=True)
        except Exception as e:
            err = f"{type(e).__name__}: {e}"
        if not err or SELF_TEST_MSG[kind] not in err:
            self_ok = False
            notes.append(f"self-test: a corrupted {kind} record gave {err!r}, "
                         f"not {SELF_TEST_MSG[kind]!r}")
    notes += [f"recall {k}: min {min(v):.3f} median {float(np.median(v)):.3f} "
              f"over {len(v)} results" for k, v in sorted(gate.recall.items())]
    if self_ok:
        notes.append("self-test: " + ", ".join(sorted(first)) + " fired")
    return failed, self_ok, notes
