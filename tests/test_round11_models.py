"""Brute-force Python models for the round-11 wave-1 operators
(corpus_text2_queries), on the sf0.001 slice + hand-computed examples."""

import re

SF = "/root/testdata/sf0.001"


def _syllables(w: str) -> int:
    return max(1, len(re.findall(r"[aeiouy]+", w)))


def test_flesch_kincaid_model(spark):
    from hpmr_spark.operators.corpus_text2_queries import (
        flesch_kincaid_readability,
    )

    import math

    per_lang = {}
    for r in spark.read.parquet(f"{SF}/documents.parquet").collect():
        wl = [w for w in r["text"].split(" ") if w]
        if not wl:
            continue
        W = len(wl)
        Y = sum(_syllables(w) for w in wl)
        S = (W + 14) // 15
        grade = math.floor((390.0 * W) / S + (11800.0 * Y) / W - 15590.0)
        st = per_lang.setdefault(r["lang"], [0, 0, 0, [], 0])
        st[0] += 1
        st[1] += W
        st[2] += Y
        st[3].append(grade)
    rows = {
        r["lang"]: r for r in flesch_kincaid_readability(spark, SF).collect()
    }
    assert set(rows) == set(per_lang)
    for lang, (n, w, y, grades, _) in per_lang.items():
        r = rows[lang]
        assert (r["n_docs"], r["n_words"], r["n_syllables"]) == (n, w, y)
        tot = sum(grades)
        # engine div truncates toward zero (CLAUDE.md), like int() here
        assert r["avg_grade_milli"] == (int(tot / n) if tot < 0 else tot // n)
        assert r["min_grade_milli"] == min(grades)
        assert r["max_grade_milli"] == max(grades)


def _lz78(words):
    d = set()
    cur = []
    n = 0
    for w in words:
        cand = cur + [w]
        if tuple(cand) in d:
            cur = cand
        else:
            d.add(tuple(cand))
            n += 1
            cur = []
    if cur:
        n += 1
    return n


def test_lz78_hand_example(spark, tmp_path):
    # a b a b a b c a b a b -> phrases a | b | a~b | a~b~c | a~b~a | b(partial)
    from pyspark.sql import functions as F

    from hpmr_spark.operators.corpus_text2_queries import lz78_phrase_census

    assert _lz78("a b a b a b c a b a b".split()) == 6

    tmp = str(tmp_path)
    spark.createDataFrame(
        [(1, "a b a b a b c a b a b", "en", "s", 21)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    row = lz78_phrase_census(spark, tmp).collect()[0]
    assert (row["n_words"], row["n_phrases"]) == (11, 6)
    assert row["lz_ratio_ppm"] == 6 * 1000000 // 11


def test_lz78_corpus_model(spark):
    from hpmr_spark.operators.corpus_text2_queries import lz78_phrase_census

    exp = {}
    for r in spark.read.parquet(f"{SF}/documents.parquet").collect():
        wl = [w for w in r["text"].split(" ") if w]
        if wl:
            exp[r["doc_id"]] = (len(wl), _lz78(wl))
    rows = {r["doc_id"]: r for r in lz78_phrase_census(spark, SF).collect()}
    assert set(rows) == set(exp)
    for did, (nw, np_) in exp.items():
        assert (rows[did]["n_words"], rows[did]["n_phrases"]) == (nw, np_)


# ---------------------------------------------------------- wave 2 models

def _day(d):
    import datetime

    return (d - datetime.date(1970, 1, 1)).days


def test_kalman_model(spark):
    import math

    from hpmr_spark.operators.seq_models_queries import (
        kalman_1d_level_filter,
    )

    daily = {}
    for r in spark.read.parquet(f"{SF}/orders.parquet").collect():
        d = _day(r["o_orderdate"].date())
        daily[d] = daily.get(d, 0) + int(round(r["o_totalprice"] * 100))
    Q, R = 25000000000000.0, 400000000000000.0
    x = p = mx = None
    mxd = -1.0
    n = 0
    for d in sorted(daily):
        z = float(daily[d])
        if n == 0:
            x, p, mx, n = z, R, 0.0, 1
        else:
            k = (p + Q) / (p + Q + R)
            innov = z - x
            if abs(innov) > mx:
                mx, mxd = abs(innov), float(d)
            x = x + k * innov
            p = (1.0 - k) * (p + Q)
            n += 1
    row = kalman_1d_level_filter(spark, SF).collect()[0]
    assert row["n_days"] == n
    assert row["level_cents"] == math.floor(x)
    assert row["variance_scaled"] == math.floor(p / 1000000.0)
    assert row["max_innov_cents"] == math.floor(mx)
    assert row["max_innov_day"] == int(mxd)


def test_hmm_forward_model(spark):
    import math

    from hpmr_spark.operators.seq_models_queries import hmm_forward_loglik
    from hpmr_spark.sources.tables import load_events

    B = [[0.3, 0.05, 0.15, 0.1, 0.4], [0.15, 0.5, 0.1, 0.05, 0.2]]
    code = {"click": 0, "error": 1, "purchase": 2, "signup": 3, "view": 4}

    def loglik(codes):
        a0, a1, ll = 0.5, 0.5, 0.0
        for cd in codes:
            n0 = (a0 * 0.8 + a1 * 0.3) * B[0][cd]
            n1 = (a0 * 0.2 + a1 * 0.7) * B[1][cd]
            c = n0 + n1
            a0, a1, ll = n0 / c, n1 / c, ll + math.log(c)
        return ll

    # hand check: one 'error' event from uniform start
    # a'_0 = (.5*.8+.5*.3)*.05 = .0275 ; a'_1 = (.5*.2+.5*.7)*.5 = .225
    assert abs(loglik([1]) - math.log(0.0275 + 0.225)) < 1e-15

    seqs = {}
    ev = load_events(spark, SF).select("user_id", "ts", "event_id", "event_type")
    for r in ev.collect():
        seqs.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], code[r["event_type"]])
        )
    rows = {r["user_id"]: r for r in hmm_forward_loglik(spark, SF).collect()}
    assert set(rows) == set(seqs)
    for uid, evs in seqs.items():
        cds = [c for _, _, c in sorted(evs)]
        assert rows[uid]["n_events"] == len(cds)
        assert rows[uid]["loglik_nano"] == math.floor(loglik(cds) * 1e9)


def test_croston_model(spark):
    import math

    from hpmr_spark.operators.seq_models_queries import (
        croston_intermittent_forecast,
    )

    orders = {
        r["o_orderkey"]: _day(r["o_orderdate"].date())
        for r in spark.read.parquet(f"{SF}/orders.parquet").collect()
    }
    dem = {}
    for r in spark.read.parquet(f"{SF}/lineitem.parquet").collect():
        d = orders[r["l_orderkey"]]
        key = (r["l_partkey"], d)
        dem[key] = dem.get(key, 0) + int(r["l_quantity"])
    per_part = {}
    for (pk, d), q in dem.items():
        per_part.setdefault(pk, []).append((d, q))
    rows = {
        r["l_partkey"]: r
        for r in croston_intermittent_forecast(spark, SF).collect()
    }
    assert set(rows) == set(per_part)
    for pk, ds in per_part.items():
        z = p = prev = None
        n = 0
        for d, q in sorted(ds):
            if n == 0:
                z, p, prev, n = float(q), 7.0, float(d), 1
            else:
                z = z + 0.1 * (q - z)
                p = p + 0.1 * ((d - prev) - p)
                prev, n = float(d), n + 1
        r = rows[pk]
        assert r["n_demand_days"] == n
        assert r["size_milli"] == math.floor(z * 1000.0)
        assert r["interval_milli"] == math.floor(p * 1000.0)
        assert r["forecast_milli"] == math.floor(z / p * 1000.0)


def test_elo_textbook_and_model(spark):
    import datetime
    import hashlib
    import math

    from hpmr_spark.operators.seq_models_queries import elo_online_ratings

    # textbook: equal ratings, K=32 -> winner gains exactly 16
    ra = rb = 1500.0
    ea = 1.0 / (1.0 + 10 ** ((rb - ra) / 400.0))
    assert ra + 32 * (1 - ea) == 1516.0

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    wk_rev = {}
    for r in spark.read.parquet(f"{SF}/orders.parquet").collect():
        d = r["o_orderdate"].date()
        wk = d - datetime.timedelta(days=d.weekday())
        wk_rev.setdefault(wk, {})
    cust_nat = {
        r["c_custkey"]: r["c_nationkey"]
        for r in spark.read.parquet(f"{SF}/customer.parquet").collect()
    }
    for r in spark.read.parquet(f"{SF}/orders.parquet").collect():
        d = r["o_orderdate"].date()
        wk = d - datetime.timedelta(days=d.weekday())
        nat = cust_nat[r["o_custkey"]]
        wk_rev[wk][nat] = wk_rev[wk].get(nat, 0) + int(
            round(r["o_totalprice"] * 100)
        )
    ratings = [1500.0] * 25
    n_matches = 0
    for wk in sorted(wk_rev):
        ws = wk.isoformat()
        na = h60(f"elo:{ws}") % 25
        nb = (na + 1 + h60(f"elo2:{ws}") % 24) % 25
        ca = wk_rev[wk].get(na, 0)
        cb = wk_rev[wk].get(nb, 0)
        sa2 = 2 if ca > cb else (1 if ca == cb else 0)
        ea = 1.0 / (
            1.0 + math.exp((ratings[nb] - ratings[na]) * math.log(10.0) / 400.0)
        )
        delta = 32.0 * (sa2 / 2.0 - ea)
        ratings[na] += delta
        ratings[nb] -= delta
        n_matches += 1
    rows = {r["nationkey"]: r for r in elo_online_ratings(spark, SF).collect()}
    assert len(rows) == 25
    for i in range(25):
        assert rows[i]["n_matches"] == n_matches
        assert rows[i]["rating_milli"] == math.floor(ratings[i] * 1000.0)


# ---------------------------------------------------------- wave 3 models

def test_ari_model(spark):
    from hpmr_spark.operators.cluster_eval2_queries import adjusted_rand_index

    pts = []
    for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect():
        e = [float(x) for x in r["embedding"]]
        cell = 4 * (e[0] >= 0) + 2 * (e[1] >= 0) + (e[2] >= 0)
        pts.append((int(r["label"]), cell))
    from collections import Counter

    cont = Counter(pts)
    ca = Counter(a for a, _ in pts)
    cb = Counter(b for _, b in pts)
    c2 = lambda n: n * (n - 1) // 2
    sij = sum(c2(v) for v in cont.values())
    sa = sum(c2(v) for v in ca.values())
    sb = sum(c2(v) for v in cb.values())
    stot = c2(len(pts))
    num = 2 * (stot * sij - sa * sb)
    den = stot * (sa + sb) - 2 * sa * sb
    ari_ppm = int(num * 1000000 / den) if (num < 0) != (den < 0) else (
        abs(num) * 1000000 // abs(den) * (1 if num * den >= 0 else -1)
    )
    # truncation toward zero, matching Spark div / DuckDB //
    t = abs(num) * 1000000 // abs(den)
    ari_ppm = t if num * den >= 0 else -t
    row = adjusted_rand_index(spark, SF).collect()[0]
    assert (row["sum_comb_ij"], row["sum_comb_a"], row["sum_comb_b"]) == (
        sij, sa, sb,
    )
    assert row["ari_ppm"] == ari_ppm


def test_davies_bouldin_model(spark):
    import math

    from hpmr_spark.operators.cluster_eval2_queries import (
        davies_bouldin_index,
    )

    members = {}
    for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect():
        v = [math.floor(float(x) * 1000000) for x in r["embedding"]]
        members.setdefault(int(r["label"]), []).append(v)
    cents = {}
    for lab, vs in members.items():
        dim = len(vs[0])
        # engine div truncates; sums here are negative-capable
        def idiv(a, b):
            q = abs(a) // b
            return q if a >= 0 else -q
        cents[lab] = [idiv(sum(v[d] for v in vs), len(vs)) for d in range(dim)]
    scat = {}
    for lab, vs in members.items():
        tot = 0
        for v in vs:
            d2 = sum((a - b) ** 2 for a, b in zip(v, cents[lab]))
            tot += math.floor(math.sqrt(float(d2)) / 1000.0)
        scat[lab] = tot // len(vs)
    labs = sorted(members)
    exp = {}
    for i in labs:
        best = None
        for j in labs:
            if i == j:
                continue
            d2 = sum((a - b) ** 2 for a, b in zip(cents[i], cents[j]))
            dm = math.floor(math.sqrt(float(d2)) / 1000.0)
            r = (scat[i] + scat[j]) * 1000000 // dm
            best = r if best is None else max(best, r)
        exp[i] = best
    rows = {r["label"]: r for r in davies_bouldin_index(spark, SF).collect()}
    assert {k: v["worst_ratio_ppm"] for k, v in rows.items()} == exp


def test_count_min_model(spark):
    import hashlib

    from hpmr_spark.operators.cluster_eval2_queries import (
        _CM_D,
        _CM_W,
        count_min_sketch_est,
    )

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    from collections import Counter

    keys = [
        int(r["l_partkey"])
        for r in spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_partkey")
        .collect()
    ]
    exact = Counter(keys)
    sketch = Counter()
    for k, c in exact.items():
        for d in range(_CM_D):
            sketch[(d, h60(f"cm{d}:{k}") % _CM_W)] += c
    est = {
        k: min(sketch[(d, h60(f"cm{d}:{k}") % _CM_W)] for d in range(_CM_D))
        for k in exact
    }
    top = sorted(exact, key=lambda k: (-exact[k], k))[:20]
    rows = {r["l_partkey"]: r for r in count_min_sketch_est(spark, SF).collect()}
    assert set(rows) == set(top)
    for k in top:
        assert rows[k]["exact_cnt"] == exact[k]
        assert rows[k]["cm_est"] == est[k]
        assert rows[k]["never_underestimates"] and est[k] >= exact[k]


# ---------------------------------------------------------- wave 4 models

def _shap_recurrence(items, K):
    # items: list of (d2, rid, match) sorted nearest-first
    N = len(items)
    s = [0.0] * N
    s[N - 1] = items[N - 1][2] / N
    for i in range(N - 2, -1, -1):
        s[i] = s[i + 1] + (items[i][2] - items[i + 1][2]) / K * min(
            K, i + 1
        ) / (i + 1)
    return s


def test_knn_shapley_brute_force_tiny():
    # exact Shapley by permutation enumeration == closed form (N=6, K=2)
    import itertools

    K = 2
    matches = [1, 0, 1, 1, 0, 0]  # nearest-first
    N = len(matches)

    def utility(subset):  # subset of indices (nearest-first order ids)
        if not subset:
            return 0.0
        nearest = sorted(subset)[:K]
        return sum(matches[i] for i in nearest) / K

    import math

    phi = [0.0] * N
    for perm in itertools.permutations(range(N)):
        cur = []
        for idx in perm:
            before = utility(cur)
            cur.append(idx)
            phi[idx] += utility(cur) - before
    phi = [p / math.factorial(N) for p in phi]
    closed = _shap_recurrence([(i, i, matches[i]) for i in range(N)], K)
    for a, b in zip(phi, closed):
        assert abs(a - b) < 1e-12


def test_knn_shapley_model(spark):
    import math

    from hpmr_spark.operators.valuation_calib_queries import (
        _KNN_K,
        _TEST_MAX,
        _TRAIN_MAX,
        knn_shapley_values,
    )

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {
        int(r["vec_id"]): (
            [math.floor(float(x) * 1000000) for x in r["embedding"]],
            int(r["label"]),
        )
        for r in rows
    }
    tests = [i for i in vecs if i < _TEST_MAX]
    trains = [i for i in vecs if _TEST_MAX <= i < _TRAIN_MAX]
    tot = {}
    cnt = {}
    for t in tests:
        tv, ty = vecs[t]
        items = []
        for r in trains:
            rv, ry = vecs[r]
            d2 = sum((a - b) ** 2 for a, b in zip(tv, rv))
            items.append((d2, r, 1.0 if ry == ty else 0.0))
        items.sort()  # nearest first, ties to smaller id
        s = _shap_recurrence(items, float(_KNN_K))
        for (d2, r, m), sv in zip(items, s):
            tot[r] = tot.get(r, 0) + math.floor(sv * 1e9)
            cnt[r] = cnt.get(r, 0) + 1
    got = {r["train_vec_id"]: r for r in knn_shapley_values(spark, SF).collect()}
    assert set(got) == set(tot)
    for r in tot:
        assert got[r]["shapley_nano_total"] == tot[r]
        assert got[r]["n_tests"] == cnt[r]


def test_conformal_aps_model(spark):
    import math

    from hpmr_spark.operators.valuation_calib_queries import (
        _APS_ALPHA_PCT,
        conformal_aps_label_sets,
    )

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {
        int(r["vec_id"]): (
            [math.floor(float(x) * 1000000) for x in r["embedding"]],
            int(r["label"]),
        )
        for r in rows
    }
    members = {}
    for v, lab in vecs.values():
        members.setdefault(lab, []).append(v)

    def idiv(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q

    cents = {
        lab: [idiv(sum(v[d] for v in vs), len(vs)) for d in range(64)]
        for lab, vs in members.items()
    }
    labs = sorted(cents)

    def probs(v):
        sims = []
        for lab in labs:
            c = cents[lab]
            num = 0
            for a, b in zip(v, c):
                num += a * b
            da = 0
            for a in v:
                da += a * a
            db = 0
            for b in c:
                db += b * b
            sims.append(float(num) / (math.sqrt(float(da)) * math.sqrt(float(db))))
        exps = [math.exp(10.0 * x) for x in sims]
        tot = 0.0
        for x in exps:
            tot += x
        return [x / tot for x in exps]

    def aps_score(p, y):
        return sum(
            p[c]
            for c in range(10)
            if p[c] > p[y] or (p[c] == p[y] and c <= y)
        )

    cal = sorted(
        math.floor(aps_score(probs(v), y) * 1e9)
        for vid, (v, y) in vecs.items()
        if vid % 2 == 1
    )
    k = math.ceil((len(cal) + 1) * (100 - _APS_ALPHA_PCT) / 100.0)
    qhat = cal[k - 1]
    exp = {}
    for vid, (v, y) in vecs.items():
        if vid % 2 != 0:
            continue
        p = probs(v)
        pre = []
        for c in range(10):
            prefix = sum(
                p[kk]
                for kk in range(10)
                if p[kk] > p[c] or (p[kk] == p[c] and kk < c)
            )
            pre.append(math.floor((prefix + p[c]) * 1e9))
        size = min(10, 1 + sum(1 for s in pre if s < qhat))
        # covered = "true label in the emitted set": rank(y) <= set_size
        # (the score<qhat form misclassified the rank-1 edge — ADVICE r9)
        rank = 1 + sum(
            1
            for c in range(10)
            if p[c] > p[y] or (p[c] == p[y] and c < y)
        )
        covered = rank <= size
        exp[vid] = (y, size, covered)
    got = {
        r["vec_id"]: (r["true_label"], r["set_size"], r["covered"])
        for r in conformal_aps_label_sets(spark, SF).collect()
    }
    assert got == exp
    # sanity: split-conformal coverage should be near 1-alpha
    cov = sum(1 for _, _, c in exp.values() if c) / len(exp)
    assert cov >= 0.8


# ---------------------------------------------------------- wave 5 models

def _huffman_lengths(counts):
    # counts: list in committed (count desc, word) rank order
    V = len(counts)
    lens = [0] * V
    pairs = [(counts[j], 1 << j) for j in range(V)]
    for _ in range(V - 1):
        act = sorted(pairs)
        (w1, m1), (w2, m2) = act[0], act[1]
        for i in range(V):
            if (m1 | m2) >> i & 1:
                lens[i] += 1
        pairs.remove((w1, m1))
        pairs.remove((w2, m2))
        pairs.append((w1 + w2, m1 | m2))
    return lens


def test_huffman_textbook():
    # CLRS example: {a:45 b:13 c:12 d:16 e:9 f:5} -> 1,3,3,3,4,4
    # committed rank order = count desc: a45 d16 b13 c12 e9 f5
    lens = _huffman_lengths([45, 16, 13, 12, 9, 5])
    assert lens == [1, 3, 3, 3, 4, 4]
    # Kraft equality for a full binary code
    assert sum(2 ** -l for l in lens) == 1.0


def test_huffman_model(spark):
    from collections import Counter

    from hpmr_spark.operators.compress_learn_queries import (
        huffman_code_lengths,
    )

    cnt = Counter()
    for r in spark.read.parquet(f"{SF}/documents.parquet").collect():
        cnt.update(w for w in r["text"].split(" ") if w)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:62]
    lens = _huffman_lengths([c for _, c in ranked])
    exp = {w: (c, l) for (w, c), l in zip(ranked, lens)}
    rows = {r["word"]: r for r in huffman_code_lengths(spark, SF).collect()}
    assert {w: (r["cnt"], r["code_len"]) for w, r in rows.items()} == exp
    assert abs(sum(2 ** -l for l in lens) - 1.0) < 1e-12


def test_perceptron_model(spark):
    import math

    from hpmr_spark.operators.compress_learn_queries import (
        perceptron_online_epoch,
    )

    samples = []
    for r in sorted(
        spark.read.parquet(f"{SF}/embeddings.parquet").collect(),
        key=lambda r: r["vec_id"],
    ):
        x = [math.floor(float(v) * 1000000) for v in r["embedding"]]
        y = 2 * (int(r["label"]) % 2) - 1
        samples.append((x, y))
    w = [0] * 64
    b = 0
    mistakes = 0
    for x, y in samples:
        act = sum(a * c for a, c in zip(w, x)) + b * 1000000
        pred = 1 if act > 0 else -1
        if pred != y:
            w = [a + y * c for a, c in zip(w, x)]
            b += y * 1000000
            mistakes += 1
    correct = 0
    for x, y in samples:
        act = sum(a * c for a, c in zip(w, x)) + b * 1000000
        if (1 if act > 0 else -1) == y:
            correct += 1
    row = perceptron_online_epoch(spark, SF).collect()[0]
    assert row["n_samples"] == len(samples)
    assert row["mistakes"] == mistakes
    assert row["bias_micro"] == b
    assert row["weight_l1_micro"] == sum(abs(a) for a in w)
    assert row["train_correct"] == correct


def test_assortativity_model(spark):
    import math

    from hpmr_spark.operators.compress_learn_queries import (
        assortativity_degree_trade,
    )

    cust = {
        r["c_custkey"]: r["c_nationkey"]
        for r in spark.read.parquet(f"{SF}/customer.parquet").collect()
    }
    supp = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in spark.read.parquet(f"{SF}/supplier.parquet").collect()
    }
    ordc = {
        r["o_orderkey"]: cust[r["o_custkey"]]
        for r in spark.read.parquet(f"{SF}/orders.parquet").collect()
    }
    pe = {}
    for r in spark.read.parquet(f"{SF}/lineitem.parquet").collect():
        key = (ordc[r["l_orderkey"]], supp[r["l_suppkey"]])
        pe[key] = pe.get(key, 0) + int(round(r["l_extendedprice"] * 100))
    tot = sum(pe.values())
    und = {
        (min(s, d), max(s, d))
        for (s, d), v in pe.items()
        if v * 625 > tot and s != d
    }
    sym = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    deg = {}
    for a, _ in sym:
        deg[a] = deg.get(a, 0) + 1
    xs = [deg[a] for a, _ in sym]
    ys = [deg[b] for _, b in sym]
    m = len(sym)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    r_nano = math.floor(
        (float(m) * sxy - float(sx) * sy)
        / (
            math.sqrt(float(m) * sxx - float(sx) * sx)
            * math.sqrt(float(m) * syy - float(sy) * sy)
        )
        * 1e9
    )
    row = assortativity_degree_trade(spark, SF).collect()[0]
    assert row["n_directed_edges"] == m
    assert row["assortativity_nano"] == r_nano


# ---------------------------------------------------------- wave 6 models

def _osa(a, b):
    la, lb = len(a), len(b)
    d = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(la + 1):
        d[i][0] = i
    for j in range(lb + 1):
        d[0][j] = j
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(
                d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost
            )
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[la][lb]


def test_osa_textbook():
    # the classic OSA-vs-Damerau separator: CA -> ABC is 3 under OSA
    # (full Damerau-Levenshtein would give 2)
    assert _osa("ca", "abc") == 3
    assert _osa("abc", "acb") == 1  # adjacent transposition
    assert _osa("kitten", "sitting") == 3  # Levenshtein classic


def test_osa_model(spark):
    from hpmr_spark.operators.edit_graph_queries import (
        _OSA_MAXLEN,
        osa_vocab_pair_distance,
    )

    vocab = set()
    for r in spark.read.parquet(f"{SF}/documents.parquet").collect():
        vocab.update(w for w in r["text"].split(" ") if w)
    vocab = sorted(w for w in vocab if len(w) <= _OSA_MAXLEN)
    exp = {}
    for i, wa in enumerate(vocab):
        for wb in vocab[i + 1:]:
            exp[(wa, wb)] = _osa(wa, wb)
    rows = {
        (r["word_a"], r["word_b"]): r["osa_dist"]
        for r in osa_vocab_pair_distance(spark, SF).collect()
    }
    assert rows == exp


def test_katz_model(spark):
    from hpmr_spark.operators.edit_graph_queries import (
        _KATZ_DEN,
        _KATZ_K,
        katz_centrality_trade,
    )

    cust = {
        r["c_custkey"]: r["c_nationkey"]
        for r in spark.read.parquet(f"{SF}/customer.parquet").collect()
    }
    supp = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in spark.read.parquet(f"{SF}/supplier.parquet").collect()
    }
    ordc = {
        r["o_orderkey"]: cust[r["o_custkey"]]
        for r in spark.read.parquet(f"{SF}/orders.parquet").collect()
    }
    pe = {}
    for r in spark.read.parquet(f"{SF}/lineitem.parquet").collect():
        key = (ordc[r["l_orderkey"]], supp[r["l_suppkey"]])
        pe[key] = pe.get(key, 0) + int(round(r["l_extendedprice"] * 100))
    tot = sum(pe.values())
    und = {
        (min(s, d), max(s, d))
        for (s, d), v in pe.items()
        if v * 625 > tot and s != d
    }
    adj = {}
    for a, b in und:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    nodes = sorted(adj)
    p = {n: 1 for n in nodes}
    num = {n: 0 for n in nodes}
    for k in range(1, _KATZ_K + 1):
        np_ = {n: sum(p[m] for m in adj[n]) for n in nodes}
        p = np_
        for n in nodes:
            num[n] += p[n] * 8 ** (_KATZ_K - k)
    rows = {
        r["nationkey"]: r for r in katz_centrality_trade(spark, SF).collect()
    }
    assert set(rows) == set(nodes)
    for n in nodes:
        assert rows[n]["katz_num"] == num[n]
        assert rows[n]["katz_micro"] == num[n] * 1000000 // _KATZ_DEN
