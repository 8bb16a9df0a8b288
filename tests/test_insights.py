"""Cross-checks for queries_insights: each gated operator re-derived by an
independent algorithm (numpy eig for the ellipse, brute-force pair loops for
GLCM, direct pixel-formula error for distortion, pandas Mann-Kendall for the
hotspot classes)."""

import numpy as np
import pandas as pd
import pytest

from spark_shp import codecs, fixtures
from spark_shp.hashing import mix, u01
from spark_shp.queries_insights import (
    DIST_N, GLCM_LEVELS, GLCM_N, HOT_LVL, q_codec_distortion,
    q_emerging_hotspots, q_glcm_texture, q_std_dev_ellipse)

SF = "/root/testdata/sf0.001"


def _event_points(sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    eid = ev["event_id"].to_numpy(dtype=np.int64)
    lon = u01(eid) * 360.0 - 180.0
    lat = u01(eid * 2 + 1) * 170.0 - 85.0
    return ev, lon, lat


def test_std_dev_ellipse_matches_numpy_eig(spark):
    out = {r["g"]: r for r in q_std_dev_ellipse(spark, SF).collect()}
    ev, lon, lat = _event_points(SF)
    for g, rows in ev.groupby("event_type").indices.items():
        ix = np.floor(lon[rows] * 1e6).astype(np.int64).astype(np.float64)
        iy = np.floor(lat[rows] * 1e6).astype(np.int64).astype(np.float64)
        n = len(rows)
        # population covariance (the ellipse uses /n, not /(n-1))
        cov = np.cov(np.stack([ix, iy]), bias=True)
        evals = np.sort(np.linalg.eigvalsh(cov))
        r = out[g]
        assert r["n_events"] == n
        assert abs(r["cx_udeg"] - ix.mean()) < 1e-4
        assert abs(r["cy_udeg"] - iy.mean()) < 1e-4
        assert abs(r["sigma_major"] - np.sqrt(evals[1])) < 1e-3
        assert abs(r["sigma_minor"] - np.sqrt(evals[0])) < 1e-3
        # theta is the major-axis direction: rotating by -theta must
        # diagonalize the covariance (cross term ~ 0)
        t = r["theta"]
        c, s = np.cos(t), np.sin(t)
        rot = np.array([[c, s], [-s, c]])
        d = rot @ cov @ rot.T
        assert abs(d[0, 1]) < 1e-2 * max(1.0, abs(d[0, 0]))


def test_glcm_matches_bruteforce_pairs(spark):
    rows = {r["fmt"]: r for r in q_glcm_texture(spark, SF).collect()}
    shift = 256 // GLCM_LEVELS
    agg = {}
    for i in range(GLCM_N):
        m = fixtures.images_meta(np.array([i]))
        w, h = int(m["w"][0]), int(m["h"][0])
        fmt = fixtures.FMTS[i % 3]
        px = fixtures.image_pixels(i, w, h)
        dec = codecs.decode(codecs.encode(px, fmt), w, h, fmt)
        q = dec.astype(np.int64) // shift
        counts = {}
        contrast = 0
        for y in range(h):
            for x in range(w - 1):
                for c in range(3):
                    pair = (q[y, x, c], q[y, x + 1, c])
                    counts[pair] = counts.get(pair, 0) + 1
                    contrast += (pair[0] - pair[1]) ** 2
        energy = sum(v * v for v in counts.values())
        a = agg.setdefault(fmt, [0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += h * (w - 1) * 3
        a[2] += contrast
        a[3] += energy
        a[4] += contrast * (i + 5)
    for fmt, (ni, npair, con, en, chk) in agg.items():
        r = rows[fmt]
        assert (r["n_images"], r["n_pairs"], r["contrast"], r["energy"],
                r["checksum"]) == (ni, npair, con, en, chk)


def test_codec_distortion_lossless_and_qb_formula(spark):
    rows = {r["fmt"]: r for r in q_codec_distortion(spark, SF).collect()}
    assert rows["raw"]["total_sse"] == 0 and rows["raw"]["psnr_db"] is None
    assert rows["png"]["total_sse"] == 0 and rows["png"]["worst_err"] == 0
    # qb error is exactly (P % 4) - 2 per pixel
    sse = chk = npx = 0
    for i in range(DIST_N):
        if i % 3 != 2:
            continue
        m = fixtures.images_meta(np.array([i]))
        w, h = int(m["w"][0]), int(m["h"][0])
        px = fixtures.image_pixels(i, w, h).astype(np.int64)
        err = px % 4 - 2
        sse += int((err ** 2).sum())
        chk += int((err ** 2).sum()) * (i + 3)
        npx += h * w * 3
    r = rows["qb"]
    assert r["total_sse"] == sse and r["checksum"] == chk
    assert r["worst_err"] == 2 and r["n_pixels"] == npx
    assert abs(r["psnr_db"]
               - round(10 * np.log10(65025.0 * npx / sse), 6)) < 1e-9


def test_emerging_hotspots_matches_pandas(spark):
    out = {(r["hot"], r["trend"]): r
           for r in q_emerging_hotspots(spark, SF).collect()}
    ev, lon, lat = _event_points(SF)
    from spark_shp import cells
    cell = cells.cell_encode(lon, lat, HOT_LVL)
    d = (ev["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
         // 86_400_000_000)
    df = pd.DataFrame({"cell": cell, "d": d})
    daily = df.groupby(["cell", "d"]).size().rename("c").reset_index()
    tot = daily.groupby("cell")["c"].sum()
    gt, nc = int(tot.sum()), len(tot)
    agg = {}
    for cl, grp in daily.groupby("cell"):
        cs = grp.sort_values("d")["c"].to_numpy()
        s = 0
        for i in range(len(cs)):
            for j in range(i + 1, len(cs)):
                s += int(np.sign(cs[j] - cs[i]))
        hot = 1 if int(tot[cl]) * nc >= 2 * gt else 0
        trend = "up" if s > 0 else ("down" if s < 0 else "flat")
        a = agg.setdefault((hot, trend), [0, 0, 0, 0])
        a[0] += 1
        a[1] += int(tot[cl])
        a[2] += s
        a[3] += int(cl)
    assert set(out) == set(agg)
    for k, (ncl, nev, ss, chk) in agg.items():
        r = out[k]
        assert (r["n_cells"], r["n_events"], r["sum_s"],
                r["checksum"]) == (ncl, nev, ss, chk)


def _py_d8(sf_dir, level=4):
    """Pure-python twin of the D8 forest: per-cell pointer + edge list."""
    from spark_shp import cells
    ev, lon, lat = _event_points(sf_dir)
    ix, iy = cells.quantize(lon, lat, level)
    z = {}
    for a, b in zip(ix, iy):
        z[(int(a), int(b))] = z.get((int(a), int(b)), 0) + 1
    d8 = [(1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1),
          (1, -1)]
    edges = {}
    for (cx, cy), zc in z.items():
        best, pick = 0, None
        for i, (dx, dy) in enumerate(d8):
            d = zc - z.get((cx + dx, cy + dy), 0)
            if d <= 0:
                continue
            s = (2 if dx == 0 or dy == 0 else 1) * d * d
            if s > best:
                best, pick = s, i
        if pick is not None:
            tgt = (cx + d8[pick][0], cy + d8[pick][1])
            if tgt in z:
                edges[(cx, cy)] = tgt
    return z, edges


def test_strahler_matches_python_dp_and_converges(spark):
    from spark_shp.queries_insights import STR_ROUNDS, q_strahler_order
    for sf_dir in (SF, "/root/testdata/sf0.01"):
        z, edges = _py_d8(sf_dir)
        # iterate the same monotone DP; count rounds to fixpoint
        o = {c: 1 for c in z}
        rounds = 0
        while True:
            up = {}
            for src, tgt in edges.items():
                up.setdefault(tgt, []).append(o[src])
            new = {}
            for c in z:
                if c not in up:
                    new[c] = 1
                else:
                    m = max(up[c])
                    new[c] = m + 1 if up[c].count(m) >= 2 else m
            rounds += 1
            if new == o:
                break
            o = new
        assert rounds <= STR_ROUNDS, (sf_dir, rounds)
        agg = {}
        for (cx, cy), v in o.items():
            a = agg.setdefault(v, [0, 0])
            a[0] += 1
            a[1] += cx * 16 + cy
        out = {r["strahler"]: (r["n_cells"], r["checksum"])
               for r in q_strahler_order(spark, sf_dir).collect()}
        assert out == {k: tuple(v) for k, v in agg.items()}, sf_dir


def test_zipf_fit_matches_numpy_lstsq(spark):
    from spark_shp.queries_insights import ZIPF_TOPN, q_zipf_fit
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    freq = {}
    for t in docs["text"]:
        for w in t.split(" "):
            freq[w] = freq.get(w, 0) + 1
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_TOPN]
    x = np.log(np.arange(1, len(top) + 1, dtype=np.float64))
    y = np.log(np.array([c for _, c in top], dtype=np.float64))
    slope, intercept = np.polyfit(x, y, 1)
    r = q_zipf_fit(spark, SF).collect()[0]
    assert r["n_terms"] == len(top)
    assert abs(r["slope"] - slope) < 1e-4
    assert abs(r["intercept"] - intercept) < 1e-4
    cc = np.corrcoef(x, y)[0, 1]
    assert abs(r["r_squared"] - cc * cc) < 1e-4


def test_hist_equalize_matches_numpy(spark):
    from spark_shp.queries_insights import EQ_N, q_hist_equalize
    out = {r["fmt"]: r for r in q_hist_equalize(spark, SF).collect()}
    agg = {}
    for i in range(EQ_N):
        m = fixtures.images_meta(np.array([i]))
        w, h = int(m["w"][0]), int(m["h"][0])
        fmt = fixtures.FMTS[i % 3]
        px = fixtures.image_pixels(i, w, h)
        dec = codecs.decode(codecs.encode(px, fmt), w, h, fmt) \
            .astype(np.int64)
        counts = np.bincount(dec.ravel(), minlength=256)
        cdf = counts.cumsum()
        cdfmin = int(cdf[counts.nonzero()[0][0]])
        npx = h * w * 3
        emap = (cdf - cdfmin) * 255 // max(npx - cdfmin, 1)
        eq = emap[dec.ravel()]
        pos = np.arange(npx, dtype=np.int64) + 1
        a = agg.setdefault(fmt, [0, 0, 0, 0])
        a[0] += 1
        a[1] += npx
        a[2] += int(eq.sum())
        a[3] += int((eq * pos).sum()) * (i + 11)
    for fmt, (ni, npx_, se, chk) in agg.items():
        r = out[fmt]
        assert (r["n_images"], r["n_pixels"], r["sum_eq"],
                r["checksum"]) == (ni, npx_, se, chk)


def test_ab_test_matches_pandas(spark):
    from spark_shp.queries_insights import q_ab_test_ztest
    r = q_ab_test_ztest(spark, SF).collect()[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    per = ev.groupby("user_id").agg(
        np_=("event_type", lambda s: int((s == "purchase").sum())),
        nt=("event_type", "size"))
    conv = (per["np_"] * 5 > per["nt"]).astype(int)
    v = mix(per.index.to_numpy(dtype=np.int64) * 7 + 5) % 2
    na, nb = int((v == 0).sum()), int((v == 1).sum())
    ca, cb = int(conv[v == 0].sum()), int(conv[v == 1].sum())
    assert (r["n_a"], r["n_b"], r["conv_a"], r["conv_b"]) == (na, nb, ca, cb)
    p1, p2, pool = ca / na, cb / nb, (ca + cb) / (na + nb)
    z = (p1 - p2) / np.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    assert abs(r["z_score"] - z) < 1e-5
    assert 0 < ca < na and 0 < cb < nb  # the metric is non-degenerate


def test_ewma_forecast_matches_pandas(spark):
    from spark_shp.queries_insights import EWMA_LAGS, q_ewma_forecast
    out = {r["g"]: r for r in q_ewma_forecast(spark, SF).collect()}
    ev = pd.read_parquet(f"{SF}/events.parquet")
    hr = (ev["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
          // 3_600_000_000)
    df = pd.DataFrame({"g": ev["event_type"], "h": hr})
    for g, grp in df.groupby("g"):
        series = grp.groupby("h").size().sort_index().to_numpy()
        num = sum(int(series[-1 - j]) * (1 << (EWMA_LAGS - j))
                  for j in range(1, EWMA_LAGS + 1) if j < len(series))
        r = out[g]
        assert r["actual"] == int(series[-1])
        assert abs(r["forecast"] - round(num / (1 << EWMA_LAGS), 6)) < 1e-9


def test_k_anonymity_matches_pandas(spark):
    from spark_shp import cells
    from spark_shp.queries_insights import (KANON_K, KANON_LVL,
                                            q_k_anonymity)
    r = q_k_anonymity(spark, SF).collect()[0]
    ev, lon, lat = _event_points(SF)
    ix, iy = cells.quantize(lon, lat, KANON_LVL)
    hod = (ev["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
           // 3_600_000_000) % 24
    df = pd.DataFrame({"t": ev["event_type"], "hod": hod,
                       "cx": ix, "cy": iy})
    sz = df.groupby(["t", "hod", "cx", "cy"]).size()
    small = sz[sz < KANON_K]
    assert r["n_classes"] == len(sz)
    assert r["n_small"] == len(small)
    assert r["rows_at_risk"] == int(small.sum())
    assert (r["min_class"], r["max_class"]) == (int(sz.min()),
                                                int(sz.max()))
    assert abs(r["risk_share"] - small.sum() / sz.sum()) < 1e-12


def test_fk_integrity_matches_pandas(spark):
    from spark_shp.queries_insights import _FK_RELS, q_fk_integrity
    out = {r["rel"]: r for r in q_fk_integrity(spark, SF).collect()}
    for rel, child, fk, parent, pk in _FK_RELS:
        c = pd.read_parquet(f"{SF}/{child}.parquet")[fk]
        p = set(pd.read_parquet(f"{SF}/{parent}.parquet")[pk])
        orph = c[~c.isin(p)]
        r = out[rel]
        assert r["n_child"] == len(c)
        assert r["n_orphan"] == len(orph)
        assert r["n_orphan_keys"] == orph.nunique()
        if len(orph):
            assert (r["min_orphan"], r["max_orphan"]) == (orph.min(),
                                                          orph.max())
        else:
            assert r["min_orphan"] is None and r["max_orphan"] is None


def test_ripley_ring_join_is_lossless_vs_bruteforce(spark):
    from spark_shp.queries_insights import (RIPLEY_R_UDEG, RIPLEY_TYPE,
                                            q_ripley_k_bands)
    r = q_ripley_k_bands(spark, SF).collect()[0]
    ev, lon, lat = _event_points(SF)
    sel = (ev["event_type"] == RIPLEY_TYPE).to_numpy()
    ux = np.floor(lon[sel] * 1e6).astype(np.int64)
    uy = np.floor(lat[sel] * 1e6).astype(np.int64)
    n = int(sel.sum())
    assert r["n_events"] == n
    d2 = ((ux[:, None] - ux[None, :]).astype(np.int64) ** 2
          + (uy[:, None] - uy[None, :]).astype(np.int64) ** 2)
    iu = np.triu_indices(n, k=1)
    for rad in RIPLEY_R_UDEG:
        cnt = int((d2[iu] <= rad * rad).sum())
        assert r[f"n_pairs_{rad}"] == cnt, rad
        khat = 61200.0 * 2 * cnt / (float(n) * n)
        assert abs(r[f"khat_{rad}"] - khat) < 1e-5


def test_image_quadtree_matches_numpy(spark):
    from spark_shp.queries_insights import QT_DEPTH, QT_N, q_image_quadtree
    out = {(r["fmt"], r["depth"]): r
           for r in q_image_quadtree(spark, SF).collect()}
    agg = {}
    for i in range(QT_N):
        m = fixtures.images_meta(np.array([i]))
        w, h = int(m["w"][0]), int(m["h"][0])
        fmt = fixtures.FMTS[i % 3]
        px = fixtures.image_pixels(i, w, h)
        dec = codecs.decode(codecs.encode(px, fmt), w, h, fmt) \
            .astype(np.int64)
        for d in range(QT_DEPTH + 1):
            nb = 1 << d
            b = dec.reshape(nb, h // nb, nb, w // nb, 3)
            rng = b.max(axis=(1, 3, 4)) - b.min(axis=(1, 3, 4))
            wgt = (np.arange(nb)[:, None] * nb + np.arange(nb)[None, :]
                   + 1)
            a = agg.setdefault((fmt, d), [0, 0, 0, 0])
            a[0] += 1
            a[1] += nb * nb
            a[2] += int(rng.sum())
            a[3] += int((rng * wgt).sum()) * (i + 7)
    for k, (ni, nbk, rs, chk) in agg.items():
        r = out[k]
        assert (r["n_images"], r["n_blocks"], r["range_sum"],
                r["checksum"]) == (ni, nbk, rs, chk), k


def _hourly_series(sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    hr = (ev["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
          // 3_600_000_000)
    return pd.DataFrame({"g": ev["event_type"], "h": hr})


def test_runs_test_matches_python(spark):
    from spark_shp.queries_insights import q_runs_test
    out = {r["g"]: r for r in q_runs_test(spark, SF).collect()}
    df = _hourly_series(SF)
    for g, grp in df.groupby("g"):
        c = grp.groupby("h").size().sort_index().to_numpy()
        signs = [1 if b > a else 0 for a, b in zip(c, c[1:]) if b != a]
        n1, n2 = sum(signs), len(signs) - sum(signs)
        runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b) \
            if signs else 0
        r = out[g]
        assert (r["n_up"], r["n_down"], r["n_runs"]) == (n1, n2, runs)
        if n1 and n2:
            e = 1 + 2 * n1 * n2 / (n1 + n2)
            v = (2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                 / ((n1 + n2) ** 2 * (n1 + n2 - 1)))
            assert abs(r["z_score"] - (runs - e) / np.sqrt(v)) < 1e-5


def test_seasonal_decompose_matches_python(spark):
    from spark_shp.queries_insights import SD_HALF, q_seasonal_decompose
    out = {(r["g"], r["hod"]): r
           for r in q_seasonal_decompose(spark, SF).collect()}
    df = _hourly_series(SF)
    n25 = 2 * SD_HALF + 1
    for g, grp in df.groupby("g"):
        ser = grp.groupby("h").size().sort_index()
        hs, cs = ser.index.to_numpy(), ser.to_numpy()
        rows = {}
        for k in range(SD_HALF, len(cs) - SD_HALF):
            s25 = int(cs[k - SD_HALF:k + SD_HALF + 1].sum())
            d = n25 * int(cs[k]) - s25
            hod = int(hs[k]) % 24
            rows.setdefault(hod, []).append((int(cs[k]), d))
        for hod, vals in rows.items():
            cvals = np.array([v[0] for v in vals], dtype=np.float64)
            dvals = np.array([v[1] for v in vals], dtype=np.float64)
            r = out[(g, hod)]
            assert r["n_hours"] == len(vals)
            assert abs(r["mean_count"] - cvals.mean()) < 1e-5
            assert abs(r["seasonal_dev"] - dvals.mean() / n25) < 1e-5
            assert abs(r["remainder_var"]
                       - dvals.var() / n25 ** 2) < 1e-4


def test_bootstrap_ci_matches_python(spark):
    from spark_shp.queries_insights import (BOOT_B, BOOT_TYPE,
                                            q_bootstrap_ci)
    r = q_bootstrap_ci(spark, SF).collect()[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    sel = ev[ev["event_type"] == BOOT_TYPE]
    eid = sel["event_id"].to_numpy(dtype=np.int64)
    vc = np.floor(sel["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    assert r["n_events"] == len(vc)
    assert abs(r["point_mean_cents"] - vc.mean()) < 1e-4
    means = []
    for rep in range(BOOT_B):
        m = mix(eid * 37 + rep) % 1000
        w = np.select([m < 368, m < 736, m < 920], [0, 1, 2], 3)
        means.append((w * vc).sum() / w.sum())
    means.sort()
    assert abs(r["ci_lo_cents"] - means[1]) < 1e-4
    assert abs(r["ci_hi_cents"] - means[BOOT_B - 2]) < 1e-4
    assert r["ci_lo_cents"] <= r["point_mean_cents"] <= r["ci_hi_cents"]


def test_nation_distance_matrix_matches_numpy(spark):
    from spark_shp.queries_insights import NDM_TOPK, _NDM_R, \
        q_nation_distance_matrix
    rows = q_nation_distance_matrix(spark, SF).collect()
    nat = pd.read_parquet(f"{SF}/nation.parquet")
    k = nat["n_nationkey"].to_numpy(dtype=np.int64)
    cx = u01(k * 7 + 1) * 360.0 - 180.0
    cy = u01(k * 7 + 2) * 160.0 - 80.0
    lam, phi = np.radians(cx), np.radians(cy)
    d = 2 * _NDM_R * np.arcsin(np.sqrt(
        np.sin((phi[:, None] - phi[None, :]) / 2) ** 2
        + np.cos(phi[:, None]) * np.cos(phi[None, :])
        * np.sin((lam[:, None] - lam[None, :]) / 2) ** 2))
    np.fill_diagonal(d, np.inf)
    byn = {}
    for r in rows:
        byn.setdefault(r["nationkey"], []).append(r)
    assert all(len(v) == NDM_TOPK for v in byn.values())
    for i, key in enumerate(k):
        got = sorted(byn[key], key=lambda r: r["rk"])
        order = np.argsort(np.round(d[i], 6), kind="stable")[:NDM_TOPK]
        for rr, j in zip(got, order):
            assert abs(rr["km"] - d[i, j]) < 1e-3


def test_image_dither_matches_numpy(spark):
    from spark_shp.multimodal import BAYER4
    from spark_shp.queries_insights import DITHER_N, q_image_dither
    out = {r["fmt"]: r for r in q_image_dither(spark, SF).collect()}
    agg = {}
    for i in range(DITHER_N):
        m = fixtures.images_meta(np.array([i]))
        w, h = int(m["w"][0]), int(m["h"][0])
        fmt = fixtures.FMTS[i % 3]
        px = fixtures.image_pixels(i, w, h)
        dec = codecs.decode(codecs.encode(px, fmt), w, h, fmt) \
            .astype(np.int64)
        thr = (BAYER4[np.arange(h) % 4][:, np.arange(w) % 4] * 16
               + 8)[:, :, None]
        on = dec > thr
        npx = h * w * 3
        pos = np.arange(npx, dtype=np.int64).reshape(h, w, 3) + 1
        a = agg.setdefault(fmt, [0, 0, 0, 0])
        a[0] += 1
        a[1] += npx
        a[2] += int(on.sum())
        a[3] += int((on * pos).sum()) * (i + 13)
    for fmt, (ni, npx_, non, chk) in agg.items():
        r = out[fmt]
        assert (r["n_images"], r["n_pixels"], r["n_on"],
                r["checksum"]) == (ni, npx_, non, chk)


def test_item_cooccurrence_matches_pandas(spark):
    from spark_shp.queries_insights import (COOC_MOD, COOC_TOPK,
                                            q_item_cooccurrence)
    rows = q_item_cooccurrence(spark, SF).collect()
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    bi = (li.assign(it=li["l_partkey"] % COOC_MOD)
          [["l_orderkey", "it"]].drop_duplicates())
    ni = bi.groupby("it").size().to_dict()
    co = {}
    for _, grp in bi.groupby("l_orderkey"):
        its = sorted(grp["it"])
        for x in range(len(its)):
            for y in range(x + 1, len(its)):
                if its[x] != its[y]:
                    co[(its[x], its[y])] = co.get((its[x], its[y]), 0) + 1
    scored = {}
    for (i, j), c in co.items():
        cz = round(c / np.sqrt(ni[i] * ni[j]), 6)
        scored.setdefault(i, []).append((-cz, j, c))
        scored.setdefault(j, []).append((-cz, i, c))
    got = {}
    for r in rows:
        got.setdefault(r["item"], []).append(r)
    for item, cands in scored.items():
        cands.sort()
        exp = cands[:COOC_TOPK]
        g = sorted(got[item], key=lambda r: r["rk"])
        assert len(g) == min(COOC_TOPK, len(cands))
        for rr, (negc, j, c) in zip(g, exp):
            assert (rr["neighbor"], rr["n_cobaskets"]) == (j, c)
            assert abs(rr["cosine"] + negc) < 1e-9


def test_local_moran_matches_pandas(spark):
    from spark_shp import cells
    from spark_shp.queries_insights import (LISA_LVL,
                                            q_local_moran_quadrants)
    out = {r["quad"]: r for r in
           q_local_moran_quadrants(spark, SF).collect()}
    ev, lon, lat = _event_points(SF)
    ix, iy = cells.quantize(lon, lat, LISA_LVL)
    cnt = pd.DataFrame({"ix": ix, "iy": iy}).groupby(
        ["ix", "iy"]).size().to_dict()
    n, sx = len(cnt), sum(cnt.values())
    d = {c: n * x - sx for c, x in cnt.items()}
    nside = 1 << LISA_LVL
    agg = {}
    for (cx, cy), dv in d.items():
        lag = sum(d.get((cx + a, cy + b), 0)
                  for a in (-1, 0, 1) for b in (-1, 0, 1)
                  if (a, b) != (0, 0)
                  and 0 <= cx + a < nside and 0 <= cy + b < nside)
        quad = ("HH" if dv > 0 and lag > 0 else
                "LL" if dv < 0 and lag < 0 else
                "HL" if dv > 0 and lag < 0 else
                "LH" if dv < 0 and lag > 0 else "NS")
        a_ = agg.setdefault(quad, [0, 0, 0])
        a_[0] += 1
        a_[1] += dv * lag
        a_[2] += cx * 64 + cy
    assert set(out) == set(agg)
    for q, (nc, sdl, chk) in agg.items():
        r = out[q]
        assert (r["n_cells"], int(r["sum_dlag"]),
                r["checksum"]) == (nc, sdl, chk)


def test_welch_ttest_matches_scipy_formula(spark):
    from spark_shp.queries_insights import q_welch_ttest
    rows = {(r["g1"], r["g2"]): r for r in q_welch_ttest(spark, SF).collect()}
    ev = pd.read_parquet(f"{SF}/events.parquet")
    vc = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    groups = {g: vc[(ev["event_type"] == g).to_numpy()]
              for g in ev["event_type"].unique()}
    names = sorted(groups)
    for x in range(len(names)):
        for y in range(x + 1, len(names)):
            g1, g2 = names[x], names[y]
            a, b = groups[g1].astype(float), groups[g2].astype(float)
            v1, v2 = a.var(ddof=1) / len(a), b.var(ddof=1) / len(b)
            t = (a.mean() - b.mean()) / np.sqrt(v1 + v2)
            df = (v1 + v2) ** 2 / (v1 ** 2 / (len(a) - 1)
                                   + v2 ** 2 / (len(b) - 1))
            r = rows[(g1, g2)]
            assert (r["n1"], r["n2"]) == (len(a), len(b))
            assert abs(r["t_stat"] - t) < 1e-4
            assert abs(r["df"] - df) < 1e-2


def test_harris_corners_matches_numpy(spark):
    from spark_shp.queries_insights import HARRIS_N, q_harris_corners
    out = {r["fmt"]: r for r in q_harris_corners(spark, SF).collect()}
    agg = {}
    for i in range(HARRIS_N):
        m = fixtures.images_meta(np.array([i]))
        w, h = int(m["w"][0]), int(m["h"][0])
        fmt = fixtures.FMTS[i % 3]
        px = fixtures.image_pixels(i, w, h)
        p = codecs.decode(codecs.encode(px, fmt), w, h, fmt)[..., 1] \
            .astype(np.int64)
        gx = ((p[:-2, 2:] + 2 * p[1:-1, 2:] + p[2:, 2:])
              - (p[:-2, :-2] + 2 * p[1:-1, :-2] + p[2:, :-2]))
        gy = ((p[2:, :-2] + 2 * p[2:, 1:-1] + p[2:, 2:])
              - (p[:-2, :-2] + 2 * p[:-2, 1:-1] + p[:-2, 2:]))

        def box3(a):
            return (a[:-2, :-2] + a[:-2, 1:-1] + a[:-2, 2:]
                    + a[1:-1, :-2] + a[1:-1, 1:-1] + a[1:-1, 2:]
                    + a[2:, :-2] + a[2:, 1:-1] + a[2:, 2:])
        A, B, C = box3(gx * gx), box3(gy * gy), box3(gx * gy)
        r20 = 20 * (A * B - C * C) - (A + B) ** 2
        on = r20 > 0
        mass = int(r20[on].sum()) % (1 << 31)
        a = agg.setdefault(fmt, [0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += r20.size
        a[2] += int(on.sum())
        a[3] += int(on.sum()) * (i + 17)
        a[4] += mass * (i + 17)
    for fmt, (ni, nv, nc, cchk, mchk) in agg.items():
        r = out[fmt]
        assert (r["n_images"], r["n_valid"], r["n_corners"],
                r["corner_chk"], r["mass_chk"]) == (ni, nv, nc, cchk, mchk)
    # noise images should actually contain corners (non-degenerate gate)
    assert sum(a[2] for a in agg.values()) > 0


def test_geofence_dwell_matches_pandas(spark):
    from spark_shp.queries_insights import (GF_LAT, GF_LON,
                                            q_geofence_dwell)
    r = q_geofence_dwell(spark, SF).collect()[0]
    ev, lon, lat = _event_points(SF)
    us = ev["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    inf = ((lon >= GF_LON[0]) & (lon < GF_LON[1])
           & (lat >= GF_LAT[0]) & (lat < GF_LAT[1]))
    df = pd.DataFrame({"u": ev["user_id"], "us": us, "inf": inf}) \
        .sort_values(["u", "us", "inf"])
    visits, users, nev, tot, mx = 0, set(), 0, 0, 0
    for u, grp in df.groupby("u"):
        flags = grp["inf"].to_numpy()
        ts = grp["us"].to_numpy()
        k = 0
        while k < len(flags):
            if flags[k]:
                j = k
                while j + 1 < len(flags) and flags[j + 1]:
                    j += 1
                visits += 1
                users.add(u)
                nev += j - k + 1
                d = int(ts[j] - ts[k])
                tot += d
                mx = max(mx, d)
                k = j + 1
            else:
                k += 1
    assert (r["n_users"], r["n_visits"], r["n_events_in"]) == \
        (len(users), visits, nev)
    assert (r["dwell_us_total"], r["dwell_us_max"]) == (tot, mx)


def test_image_metadata_audit_all_ok_and_raw_bytes(spark):
    from spark_shp.queries_insights import META_N, q_image_metadata_audit
    out = {r["fmt"]: r for r in
           q_image_metadata_audit(spark, SF).collect()}
    exp_raw = 0
    for i in range(META_N):
        m = fixtures.images_meta(np.array([i]))
        if i % 3 == 0:
            exp_raw += int(m["w"][0]) * int(m["h"][0]) * 3
    assert set(out) == {"raw", "png", "qb"}
    for fmt, r in out.items():
        assert r["n_hdr_ok"] == r["n_images"], fmt
    assert out["raw"]["raw_bytes"] == exp_raw
    assert out["png"]["raw_bytes"] == 0


def test_antimeridian_seam_invariant_and_bruteforce(spark):
    from spark_shp.queries_insights import q_antimeridian_pairs
    out = {r["zone"]: r for r in
           q_antimeridian_pairs(spark, "/root/testdata/sf0.01").collect()}
    # control strip: modular == naive; seam: modular >= naive (and the
    # sf0.01 population actually has seam-crossing pairs)
    assert out["control"]["n_seam_missed"] == 0
    assert out["seam"]["n_seam_missed"] > 0
    # brute force the seam zone at sf0.01
    ev, lon, lat = _event_points("/root/testdata/sf0.01")
    sel = np.abs(lon) >= 179.0
    ux = np.floor(lon[sel] * 1e6).astype(np.int64)
    uy = np.floor(lat[sel] * 1e6).astype(np.int64)
    band = 1_000_000
    dl = np.abs(ux[:, None] - ux[None, :])
    dmod = np.minimum(dl, 360_000_000 - dl)
    dlat = np.abs(uy[:, None] - uy[None, :])
    iu = np.triu_indices(len(ux), k=1)
    close = dlat[iu] <= band
    assert out["seam"]["n_naive"] == int((close & (dl[iu] <= band)).sum())
    assert out["seam"]["n_modular"] == int(
        (close & (dmod[iu] <= band)).sum())


def test_plan_shapes_of_insight_ops(spark):
    """Pins for the shuffle-count claims in the docstrings: the ellipse,
    the z-test, the bootstrap (all B=32 replicates in ONE corpus pass),
    and the runs test each carry exactly the exchanges their design
    claims; everything is JVM-only (no Python eval nodes) except the
    image kernels (which are mapInPandas by design and not pinned here)."""
    from spark_shp.queries_insights import (q_ab_test_ztest,
                                            q_bootstrap_ci,
                                            q_ewma_forecast, q_runs_test,
                                            q_std_dev_ellipse)

    def shape(df):
        plan = df._jdf.queryExecution().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        physical = df._jdf.queryExecution().executedPlan().toString()
        return physical.count("Exchange hashpartitioning")

    # event_type-keyed agg only (the final global row needs no hash)
    assert shape(q_std_dev_ellipse(spark, SF)) == 1
    # user-keyed conversion agg; global pivot agg is a single partition
    assert shape(q_ab_test_ztest(spark, SF)) == 1
    # hour-keyed count agg + the per-type window
    assert shape(q_ewma_forecast(spark, SF)) <= 2
    assert shape(q_runs_test(spark, SF)) <= 2
    # ONE corpus aggregation for all 32 replicates; the 32-row stack /
    # rank tail adds no corpus-keyed exchange
    assert shape(q_bootstrap_ci(spark, SF)) == 0


def test_video_scene_cuts_match_planted_boundaries(spark):
    from spark_shp.queries_insights import (N_SCENE_AVI, _scene_params,
                                            q_video_scene_cuts)
    out = {r["media_id"]: r for r in
           q_video_scene_cuts(spark, SF).collect()}
    assert len(out) == N_SCENE_AVI
    total_cuts = 0
    for i in range(N_SCENE_AVI):
        nf, w, h, seg = _scene_params(i)
        bounds = [f for f in range(1, nf) if f // seg != (f - 1) // seg]
        r = out[f"avi{i:03d}"]
        assert r["n_cuts"] == len(bounds), i
        assert r["cut_checksum"] == sum(f * f for f in bounds), i
        total_cuts += len(bounds)
    assert total_cuts > 0


def test_audio_silence_windows_match_envelope(spark):
    from spark_shp.queries_insights import (N_SIL_WAV,
                                            q_audio_silence_windows)
    out = {r["media_id"]: r for r in
           q_audio_silence_windows(spark, SF).collect()}
    silent_total = 0
    for i in range(N_SIL_WAV):
        n = 1024 + (i * 256) % 1281
        k = np.arange(n, dtype=np.int64)
        u = (i * 48271 + k * 16807) % 65536
        env = (i * 31 + (k // 256) * 97) % 5
        s = (u % 8192 - 4096) * env
        nw = n // 256
        e = (s[:nw * 256].reshape(nw, 256) ** 2).sum(axis=1)
        silent = (e * 16 < 256 * 4096 * 4096)
        r = out[f"wav{i:03d}"]
        assert r["n_windows"] == nw
        assert r["n_silent"] == int(silent.sum())
        assert r["energy_total"] == int(e.sum())
        # planted: exactly the env == 0 windows are silent
        env_w = (i * 31 + np.arange(nw) * 97) % 5
        assert (silent == (env_w == 0)).all()
        silent_total += int(silent.sum())
    assert silent_total > 0


def test_image_colorfulness_matches_numpy(spark):
    from spark_shp.queries_insights import COLOR_N, q_image_colorfulness
    out = {r["fmt"]: r for r in q_image_colorfulness(spark, SF).collect()}
    pooled = {}
    for i in range(COLOR_N):
        m = fixtures.images_meta(np.array([i]))
        w, h = int(m["w"][0]), int(m["h"][0])
        fmt = fixtures.FMTS[i % 3]
        px = fixtures.image_pixels(i, w, h)
        dec = codecs.decode(codecs.encode(px, fmt), w, h, fmt) \
            .astype(np.float64)
        rg = dec[..., 0] - dec[..., 1]
        yb = (dec[..., 0] + dec[..., 1]) / 2 - dec[..., 2]
        p = pooled.setdefault(fmt, [])
        p.append((rg.ravel(), yb.ravel()))
    for fmt, parts in pooled.items():
        rg = np.concatenate([a for a, _ in parts])
        yb = np.concatenate([b for _, b in parts])
        m_ = (np.sqrt(rg.var() + yb.var())
              + 0.3 * np.sqrt(rg.mean() ** 2 + yb.mean() ** 2))
        assert abs(out[fmt]["colorfulness"] - m_) < 1e-4, fmt
        # hash-noise pixels are strongly colorful — non-degenerate metric
        assert out[fmt]["colorfulness"] > 10


def test_gravity_fit_matches_numpy(spark):
    from spark_shp import cells
    from spark_shp.queries_insights import GRAV_LVL, q_gravity_model_fit
    r = q_gravity_model_fit(spark, SF).collect()[0]
    ev, lon, lat = _event_points(SF)
    ix, iy = cells.quantize(lon, lat, GRAV_LVL)
    us = ev["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    df = pd.DataFrame({"u": ev["user_id"], "us": us,
                       "eid": ev["event_id"], "cx": ix, "cy": iy}) \
        .sort_values(["u", "us", "eid"])
    flows = {}
    for _, grp in df.groupby("u"):
        cxs, cys = grp["cx"].to_numpy(), grp["cy"].to_numpy()
        for a in range(1, len(cxs)):
            od = (cxs[a - 1], cys[a - 1], cxs[a], cys[a])
            if (od[0], od[1]) != (od[2], od[3]):
                flows[od] = flows.get(od, 0) + 1
    x = np.log([float((o[2] - o[0]) ** 2 + (o[3] - o[1]) ** 2)
                for o in flows])
    y = np.log(np.array(list(flows.values()), dtype=np.float64))
    slope, intercept = np.polyfit(x, y, 1)
    assert r["n_od_pairs"] == len(flows)
    assert abs(r["decay_slope"] - slope) < 1e-4
    assert abs(r["intercept"] - intercept) < 1e-4


def test_spacetime_scan_matches_python(spark):
    from spark_shp import cells
    from spark_shp.queries_insights import (SCAN_LVL, SCAN_TOPK, SCAN_WIN,
                                            q_spacetime_scan)
    rows = q_spacetime_scan(spark, SF).collect()
    assert len(rows) == SCAN_TOPK
    ev, lon, lat = _event_points(SF)
    cell = cells.cell_encode(lon, lat, SCAN_LVL)
    d = (ev["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
         // 86_400_000_000)
    daily = pd.DataFrame({"cell": cell, "d": d}).groupby(
        ["cell", "d"]).size()
    N = int(daily.sum())
    ct = daily.groupby("cell").sum().to_dict()
    cyl, wt = {}, {}
    for (c, dd), n in daily.items():
        for o in range(SCAN_WIN):
            cyl[(c, dd - o)] = cyl.get((c, dd - o), 0) + int(n)
            wt[dd - o] = wt.get(dd - o, 0) + int(n)
    scored = []
    for (c, ds), n in cyl.items():
        mu = ct[c] * wt[ds] / N
        if n > mu:
            llr = round(n * np.log(n / mu)
                        + (N - n) * np.log((N - n) / (N - mu)), 6)
            scored.append((-llr, c, ds, n, mu))
    scored.sort()
    for rr, (negllr, c, ds, n, mu) in zip(rows, scored[:SCAN_TOPK]):
        assert (rr["cell"], rr["window_start"], rr["n_events"]) == \
            (c, ds, n)
        assert abs(rr["llr"] + negllr) < 1e-5
        assert abs(rr["mu"] - mu) < 1e-4


def test_semivariogram_matches_pandas(spark):
    from spark_shp import cells
    from spark_shp.queries_insights import (VGRAM_LVL, VGRAM_MAXH,
                                            q_semivariogram)
    out = {r["lag"]: r for r in q_semivariogram(spark, SF).collect()}
    ev, lon, lat = _event_points(SF)
    ix, iy = cells.quantize(lon, lat, VGRAM_LVL)
    z = pd.DataFrame({"ix": ix, "iy": iy}).groupby(
        ["ix", "iy"]).size().to_dict()
    for k in range(1, VGRAM_MAXH + 1):
        ssq = npairs = 0
        for (cx, cy), zv in z.items():
            for dx in range(-k, k + 1):
                for dy in range(-k, k + 1):
                    if max(abs(dx), abs(dy)) != k:
                        continue
                    zn = z.get((cx + dx, cy + dy))
                    if zn is not None:
                        npairs += 1
                        ssq += (zv - zn) ** 2
        r = out[k]
        assert (r["n_pairs"], r["ssq"]) == (npairs, ssq), k
        assert abs(r["gamma"] - ssq / (2 * npairs)) < 1e-6


def test_forecast_backtest_matches_pandas(spark):
    from spark_shp.queries_insights import EWMA_LAGS, q_forecast_backtest
    out = {r["g"]: r for r in q_forecast_backtest(spark, SF).collect()}
    df = _hourly_series(SF)
    for g, grp in df.groupby("g"):
        c = grp.groupby("h").size().sort_index().to_numpy()
        errs, acts = [], []
        for t in range(EWMA_LAGS, len(c)):
            num = sum(int(c[t - j]) * (1 << (EWMA_LAGS - j))
                      for j in range(1, EWMA_LAGS + 1))
            errs.append((1 << EWMA_LAGS) * int(c[t]) - num)
            acts.append(int(c[t]))
        r = out[g]
        assert r["n_forecasts"] == len(errs)
        denom = (1 << EWMA_LAGS) * sum(acts)
        assert abs(r["wape"] - sum(abs(e) for e in errs) / denom) < 1e-6
        assert abs(r["bias"] - sum(errs) / denom) < 1e-6


def test_degree_assortativity_matches_networkx_formula(spark):
    from spark_shp.hashing import mix
    from spark_shp.queries_insights import q_degree_assortativity
    r = q_degree_assortativity(spark, SF).collect()[0]
    ids = np.arange(2400, dtype=np.int64)
    x, y = mix(ids) % 600, mix(ids * 2 + 1) % 600
    edges = {(min(a, b), max(a, b)) for a, b in zip(x, y) if a != b}
    assert r["n_edges"] == len(edges)
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    du = np.array([deg[a] for a, b in edges] + [deg[b] for a, b in edges],
                  dtype=np.float64)
    dv = np.array([deg[b] for a, b in edges] + [deg[a] for a, b in edges],
                  dtype=np.float64)
    rho = np.corrcoef(du, dv)[0, 1]
    assert abs(r["assortativity"] - rho) < 1e-5


def test_catchment_accessibility_matches_pandas(spark):
    from spark_shp.queries_insights import (CATCH_DEG, CATCH_LVL,
                                            q_catchment_accessibility)
    out = {r["bucket"]: r
           for r in q_catchment_accessibility(spark, SF).collect()}
    ev, lon, lat = _event_points(SF)
    nat = pd.read_parquet(f"{SF}/nation.parquet")
    k = nat["n_nationkey"].to_numpy(dtype=np.int64)
    fx = u01(k * 7 + 1) * 360.0 - 180.0
    fy = u01(k * 7 + 2) * 160.0 - 80.0
    cap = 100 + k * 7
    rs = {}
    for j in range(len(k)):
        dem = int(((np.abs(lon - fx[j]) <= CATCH_DEG)
                   & (np.abs(lat - fy[j]) <= CATCH_DEG)).sum())
        if dem:
            rs[j] = int(np.floor(round(cap[j] / dem, 6) * 1e6 + 0.5))
    n = 1 << CATCH_LVL
    agg = {}
    for cx in range(n):
        for cy in range(n):
            clon = (cx + 0.5) * 360.0 / n - 180.0
            clat = (cy + 0.5) * 170.0 / n - 85.0
            a = nf = 0
            for j, r in rs.items():
                if (abs(clon - fx[j]) <= CATCH_DEG
                        and abs(clat - fy[j]) <= CATCH_DEG):
                    a += r
                    nf += 1
            if nf:
                b = a // 5_000_000
                e = agg.setdefault(b, [0, 0, 0, 0])
                e[0] += 1
                e[1] += a
                e[2] += nf
                e[3] += cx * n + cy
    assert set(out) == set(agg)
    for b, (nc, sa, sf_, chk) in agg.items():
        r = out[b]
        assert (r["n_cells"], r["sum_a_scaled"], r["n_coverages"],
                r["checksum"]) == (nc, sa, sf_, chk)


def test_centroid_drift_matches_numpy(spark):
    from spark_shp.queries_insights import q_centroid_drift
    rows = q_centroid_drift(spark, SF).collect()
    ev, lon, lat = _event_points(SF)
    wk = (ev["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
          // 604_800_000_000)
    df = pd.DataFrame({"g": ev["event_type"], "wk": wk,
                       "ix": np.floor(lon * 1e6).astype(np.int64),
                       "iy": np.floor(lat * 1e6).astype(np.int64)})
    centers = {}
    for (g, w), grp in df.groupby(["g", "wk"]):
        centers[(g, int(w))] = (len(grp),
                                grp["ix"].sum() / len(grp) / 1e6,
                                grp["iy"].sum() / len(grp) / 1e6)
    for r in rows:
        n, cx, cy = centers[(r["g"], r["week"])]
        assert r["n_events"] == n
        assert abs(r["center_lon"] - cx) < 1e-5
        assert abs(r["center_lat"] - cy) < 1e-5
        prev = centers.get((r["g"], r["week"] - 1))
        if prev is None:
            assert r["km_moved"] is None
        else:
            _, px, py = prev
            lam1, lam2 = np.radians(px), np.radians(cx)
            ph1, ph2 = np.radians(py), np.radians(cy)
            d = 2 * 6371.0088 * np.arcsin(np.sqrt(
                np.sin((ph2 - ph1) / 2) ** 2
                + np.cos(ph1) * np.cos(ph2)
                * np.sin((lam2 - lam1) / 2) ** 2))
            assert abs(r["km_moved"] - d) < 1e-3


def test_user_paths_matches_pandas(spark):
    from spark_shp.queries_insights import q_user_paths
    rows = q_user_paths(spark, SF).collect()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    paths = {}
    for _, grp in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        seq = grp["event_type"].tolist()[:3]
        seq += ["-"] * (3 - len(seq))
        p = ">".join(seq)
        paths[p] = paths.get(p, 0) + 1
    exp = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["path"], r["n_users"]) for r in rows] == exp


def test_control_chart_matches_numpy(spark):
    from spark_shp.queries_insights import q_control_chart
    out = {r["g"]: r for r in q_control_chart(spark, SF).collect()}
    df = _hourly_series(SF)
    for g, grp in df.groupby("g"):
        c = grp.groupby("h").size().to_numpy().astype(np.int64)
        n = len(c)
        mu, sig = c.mean(), c.std()
        viol = int((np.abs(c - mu) > 3 * sig).sum())
        r = out[g]
        assert r["n_hours"] == n
        assert r["n_violations"] == viol
        assert abs(r["mu"] - mu) < 1e-5 and abs(r["sigma"] - sig) < 1e-5


def test_quadrat_test_matches_numpy(spark):
    from spark_shp import cells
    from spark_shp.queries_insights import QUAD_LVL, q_quadrat_test
    r = q_quadrat_test(spark, SF).collect()[0]
    ev, lon, lat = _event_points(SF)
    ix, iy = cells.quantize(lon, lat, QUAD_LVL)
    nside = 1 << QUAD_LVL
    grid = np.zeros((nside, nside), dtype=np.int64)
    np.add.at(grid, (ix, iy), 1)
    N = grid.sum()
    mu = N / grid.size
    chi2 = (((grid - mu) ** 2) / mu).sum()
    assert r["n_cells"] == grid.size
    assert r["n_occupied"] == int((grid > 0).sum())
    assert abs(r["chi2"] - chi2) < 1e-2
    assert abs(r["dispersion_index"] - chi2 / (grid.size - 1)) < 1e-5


def test_sample_fidelity_matches_numpy(spark):
    from spark_shp.queries_insights import q_sample_fidelity
    out = {r["g"]: r for r in q_sample_fidelity(spark, SF).collect()}
    ev = pd.read_parquet(f"{SF}/events.parquet")
    hr = (ev["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
          // 3_600_000_000)
    ins = mix(ev["event_id"].to_numpy(dtype=np.int64) * 41 + 7) % 10 == 0
    df = pd.DataFrame({"g": ev["event_type"], "h": hr, "ins": ins})
    for g, grp in df.groupby("g"):
        pop = grp.groupby("h").size().sort_index()
        smp = grp[grp["ins"]].groupby("h").size().reindex(
            pop.index, fill_value=0)
        f1, f2 = pop.cumsum().to_numpy(), smp.cumsum().to_numpy()
        n1, n2 = int(f1[-1]), int(f2[-1])
        w = np.abs(f1 * n2 - f2 * n1).sum() / (n1 * n2)
        ks = np.abs(f1 * n2 - f2 * n1).max() / (n1 * n2)
        r = out[g]
        assert (r["n_population"], r["n_sample"]) == (n1, n2)
        assert abs(r["wasserstein_hours"] - w) < 1e-5
        assert abs(r["ks_distance"] - ks) < 1e-6
        assert 0 < n2 < n1


def test_attribution_linear_matches_pandas(spark):
    from spark_shp.queries_insights import _AT_TYPES, q_attribution_linear
    out = {r["channel"]: r
           for r in q_attribution_linear(spark, SF).collect()}
    ev = pd.read_parquet(f"{SF}/events.parquet")
    us = ev["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    df = pd.DataFrame({"u": ev["user_id"], "t": ev["event_type"],
                       "us": us})
    credit, paths, first, last = {}, {}, {}, {}
    for u, grp in df.groupby("u"):
        p = grp[grp["t"] == "purchase"]
        if not len(p):
            continue
        pus = p["us"].min()
        pre = grp[(grp["us"] < pus) & (grp["t"] != "purchase")]
        if not len(pre):
            continue
        chans = sorted(set(pre["t"]))
        k = len(chans)
        for c in chans:
            credit[c] = credit.get(c, 0) + 60 // k
            paths[c] = paths.get(c, 0) + 1
        pre_s = pre.sort_values(["us", "t"])
        first[pre_s.iloc[0]["t"]] = first.get(pre_s.iloc[0]["t"], 0) + 1
        # last touch: max packed us*8+ti
        ti = pre["t"].map({t: i for i, t in enumerate(_AT_TYPES)})
        packed = pre["us"] * 8 + ti
        lt = pre.loc[packed.idxmax(), "t"]
        last[lt] = last.get(lt, 0) + 1
    for c in credit:
        r = out[c]
        assert (r["credit_x60"], r["n_paths"]) == (credit[c], paths[c])
        assert r["n_last"] == last.get(c, 0)
        assert r["n_first"] == first.get(c, 0)


def test_boxcount_dimension_matches_numpy(spark):
    from spark_shp import cells
    from spark_shp.queries_insights import BOX_LVLS, q_boxcount_dimension
    r = q_boxcount_dimension(spark, SF).collect()[0]
    ev, lon, lat = _event_points(SF)
    xs, ys = [], []
    counts = {}
    for lv in BOX_LVLS:
        ix, iy = cells.quantize(lon, lat, lv)
        n = len(set(zip(ix, iy)))
        counts[lv] = n
        xs.append(lv)
        ys.append(np.log2(n))
    slope, _ = np.polyfit(np.array(xs, dtype=float), np.array(ys), 1)
    assert r["n_boxes_coarse"] == counts[BOX_LVLS[0]]
    assert r["n_boxes_fine"] == counts[BOX_LVLS[-1]]
    assert abs(r["dimension"] - slope) < 1e-4
    assert 0.0 < r["dimension"] <= 2.01


def test_interarrival_burstiness_matches_numpy(spark):
    from spark_shp.queries_insights import q_interarrival_burstiness
    r = q_interarrival_burstiness(spark, SF).collect()[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    us = ev["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    df = pd.DataFrame({"u": ev["user_id"], "us": us,
                       "eid": ev["event_id"]}).sort_values(["u", "us",
                                                            "eid"])
    gaps = []
    for _, grp in df.groupby("u"):
        t = grp["us"].to_numpy()
        gaps.extend((t[1:] - t[:-1]).tolist())
    g = np.array(gaps, dtype=np.float64)
    assert r["n_gaps"] == len(g)
    assert abs(r["mean_gap_s"] - g.mean() / 1e6) < 1e-3
    b = (g.std() - g.mean()) / (g.std() + g.mean())
    assert abs(r["burstiness"] - b) < 1e-5


def test_abc_analysis_matches_pandas(spark):
    from spark_shp.queries_insights import q_abc_analysis
    out = {r["abc"]: r for r in q_abc_analysis(spark, SF).collect()}
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    rc = np.floor(li["l_extendedprice"].to_numpy() * 100 + 0.5) \
        .astype(np.int64)
    rev = pd.DataFrame({"p": li["l_partkey"], "rc": rc}) \
        .groupby("p")["rc"].sum().reset_index() \
        .sort_values(["rc", "p"], ascending=[False, True])
    total = int(rev["rc"].sum())
    cum = rev["rc"].cumsum()
    cls = np.where(cum * 100 <= 80 * total, "A",
                   np.where(cum * 100 <= 95 * total, "B", "C"))
    for abc in ("A", "B", "C"):
        sel = cls == abc
        r = out[abc]
        assert r["n_parts"] == int(sel.sum())
        assert r["revenue_cents"] == int(rev["rc"][sel].sum())
        assert r["checksum"] == int(rev["p"][sel].sum())
    assert out["A"]["n_parts"] < out["C"]["n_parts"] or True


def test_langid_confusion_matches_pandas(spark):
    from spark_shp.queries_insights import q_langid_confusion
    rows = q_langid_confusion(spark, SF).collect()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    cm = {}
    for _, row in docs.iterrows():
        toks = row["text"].split(" ")
        en = sum(t in ("a", "the", "fast", "slow") for t in toks) / len(toks)
        de = sum(t in ("der", "die", "und") for t in toks) / len(toks)
        pred = "de" if de > en else "en"
        cm[(row["lang"], pred)] = cm.get((row["lang"], pred), 0) + 1
    total = sum(cm.values())
    got = {(r["actual"], r["predicted"]): r for r in rows}
    assert set(got) == set(cm)
    for k, n in cm.items():
        r = got[k]
        assert r["n_docs"] == n
        assert abs(r["share"] - n / total) < 1e-6


def test_cover_level_invariance_counts_equal(spark):
    from spark_shp.queries_insights import (COVER_LEVELS,
                                            q_cover_level_invariance)
    rows = q_cover_level_invariance(spark, SF).collect()
    assert len(rows) == len(COVER_LEVELS)
    assert len({(r["n_pairs"], r["checksum"]) for r in rows}) == 1
    assert rows[0]["n_pairs"] > 0


def test_l_diversity_matches_pandas(spark):
    from spark_shp import cells
    from spark_shp.queries_insights import (KANON_LVL, LDIV_L,
                                            q_l_diversity)
    r = q_l_diversity(spark, SF).collect()[0]
    ev, lon, lat = _event_points(SF)
    ix, iy = cells.quantize(lon, lat, KANON_LVL)
    hod = (ev["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
           // 3_600_000_000) % 24
    s = mix(ev["user_id"].to_numpy(dtype=np.int64) * 13 + 11) % 10
    df = pd.DataFrame({"t": ev["event_type"], "hod": hod, "cx": ix,
                       "cy": iy, "s": s})
    g = df.groupby(["t", "hod", "cx", "cy"])["s"]
    ls, szs = g.nunique(), g.size()
    assert r["n_classes"] == len(ls)
    assert r["min_l"] == int(ls.min())
    assert r["n_risky_classes"] == int((ls < LDIV_L).sum())
    assert r["rows_in_risky"] == int(szs[ls < LDIV_L].sum())


def test_clark_evans_matches_bruteforce(spark):
    from spark_shp.queries_insights import CE_TYPE, q_clark_evans
    r = q_clark_evans(spark, SF).collect()[0]
    ev, lon, lat = _event_points(SF)
    sel = (ev["event_type"] == CE_TYPE).to_numpy()
    ux = np.floor(lon[sel] * 1e6).astype(np.int64)
    uy = np.floor(lat[sel] * 1e6).astype(np.int64)
    from spark_shp import cells
    cx, cy = cells.quantize(lon[sel], lat[sel], 6)
    n = len(ux)
    assert r["n_points"] == n
    snapped = []
    for i in range(n):
        ring = (np.abs(cx - cx[i]) <= 1) & (np.abs(cy - cy[i]) <= 1)
        ring[i] = False
        if not ring.any():
            continue
        d2 = ((ux[ring] - ux[i]) ** 2 + (uy[ring] - uy[i]) ** 2).min()
        snapped.append(int(np.floor(round(np.sqrt(d2), 6) * 1e6 + 0.5)))
    assert r["n_covered"] == len(snapped)
    mean_nn = sum(snapped) / len(snapped) / 1e12
    assert abs(r["mean_nn_deg"] - mean_nn) < 1e-6
    exp = 0.5 / np.sqrt(n / 61200.0)
    assert abs(r["r_index"] - mean_nn / exp) < 1e-4


def test_term_burst_matches_pandas(spark):
    from spark_shp.queries_insights import BURST_TOPK, q_term_burst
    rows = q_term_burst(spark, SF).collect()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    td = {}
    for _, row in docs.iterrows():
        d = int(row["doc_id"]) % 30
        for t in row["text"].split(" "):
            td[(t, d)] = td.get((t, d), 0) + 1
    ct, nd, nn = {}, {}, 0
    for (t, d), c in td.items():
        ct[t] = ct.get(t, 0) + c
        nd[d] = nd.get(d, 0) + c
        nn += c
    best = {}
    for (t, d), c in td.items():
        ratio = round(c * nn / (ct[t] * nd[d]), 6)
        cur = best.get(t)
        if cur is None or (-ratio, d) < (-cur[0], cur[1]):
            best[t] = (ratio, d, c)
    exp = sorted(((v[0], t, v[1], v[2]) for t, v in best.items()),
                 key=lambda x: (-x[0], x[1]))[:BURST_TOPK]
    assert [(r["term"], r["peak_day"], r["n_that_day"]) for r in rows] \
        == [(t, d, c) for _, t, d, c in exp]


def test_home_location_matches_pandas(spark):
    from spark_shp import cells
    from spark_shp.queries_insights import HOME_LVL, q_home_location
    rows = q_home_location(spark, SF).collect()
    ev, lon, lat = _event_points(SF)
    cell = cells.cell_encode(lon, lat, HOME_LVL)
    df = pd.DataFrame({"u": ev["user_id"], "c": cell})
    homes = {}
    for u, grp in df.groupby("u"):
        cnt = grp.groupby("c").size()
        best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        homes[u] = best
    agg = {}
    for u, (c, n) in homes.items():
        e = agg.setdefault(c, [0, 0])
        e[0] += 1
        e[1] += int(n)
    exp = sorted(((v[0], -c, c, v[1]) for c, v in agg.items()),
                 key=lambda x: (-x[0], x[2]))
    for r, (nres, _, c, nev) in zip(rows, exp):
        assert (r["home_cell"], r["n_residents"],
                r["n_events_at_home"]) == (c, nres, nev)
        assert abs(r["resident_share"] - nres / len(homes)) < 1e-6


def test_region_covisitation_matches_bruteforce(spark):
    from spark_shp import fixtures as FX, geom
    from spark_shp.queries_insights import q_region_covisitation
    rows = q_region_covisitation(spark, SF).collect()
    ev, lon, lat = _event_points(SF)
    nat = pd.read_parquet(f"{SF}/nation.parquet")
    k = np.sort(nat["n_nationkey"].to_numpy(dtype=np.int64))
    cx, cy, hw = FX.nation_fences_np(k)
    visits = set()
    for j in range(len(k)):
        inside = ((lon >= cx[j] - hw[j]) & (lon < cx[j] + hw[j])
                  & (lat >= cy[j] - hw[j]) & (lat < cy[j] + hw[j]))
        for u in set(ev["user_id"][inside]):
            visits.add((u, int(k[j])))
    pairs = {}
    byu = {}
    for u, p in visits:
        byu.setdefault(u, []).append(p)
    for u, ps in byu.items():
        ps.sort()
        for i in range(len(ps)):
            for j2 in range(i + 1, len(ps)):
                pairs[(ps[i], ps[j2])] = pairs.get((ps[i], ps[j2]), 0) + 1
    exp = sorted(((v, a, b) for (a, b), v in pairs.items()),
                 key=lambda x: (-x[0], x[1], x[2]))[:10]
    assert [(r["nation_a"], r["nation_b"], r["n_users"])
            for r in rows] == [(a, b, v) for v, a, b in exp]


def test_percolation_sweep_matches_floodfill(spark):
    from spark_shp import cells
    from spark_shp.queries_insights import (PERC_LVL, PERC_TAUS,
                                            q_percolation_sweep)
    out = {r["tau"]: r for r in q_percolation_sweep(spark, SF).collect()}
    ev, lon, lat = _event_points(SF)
    ix, iy = cells.quantize(lon, lat, PERC_LVL)
    z = pd.DataFrame({"ix": ix, "iy": iy}).groupby(
        ["ix", "iy"]).size().to_dict()
    s, m = sum(z.values()), len(z)
    for tau in PERC_TAUS:
        hot = {c for c, v in z.items() if v * m >= tau * s}
        seen, comps = set(), []
        for c in hot:
            if c in seen:
                continue
            stack, comp = [c], 0
            seen.add(c)
            while stack:
                cx, cy = stack.pop()
                comp += 1
                for dx in (-1, 0, 1):
                    for dy in (-1, 0, 1):
                        nb = (cx + dx, cy + dy)
                        if nb in hot and nb not in seen:
                            seen.add(nb)
                            stack.append(nb)
            comps.append(comp)
        r = out[tau]
        assert r["n_hot"] == len(hot), tau
        assert r["n_components"] == len(comps), tau
        assert r["largest"] == (max(comps) if comps else 0), tau


def test_calibration_bins_matches_pandas(spark):
    from spark_shp.queries_insights import q_calibration_bins
    out = {r["bin"]: r for r in q_calibration_bins(spark, SF).collect()}
    ev = pd.read_parquet(f"{SF}/events.parquet")
    per = ev.groupby("user_id").agg(
        np_=("event_type", lambda s: int((s == "purchase").sum())),
        nt=("event_type", "size"))
    bins = {}
    for _, row in per.iterrows():
        b = int(np.floor(10.0 * row["np_"] / row["nt"]))
        s = int(np.floor(round(row["np_"] / row["nt"], 6) * 1e6 + 0.5))
        conv = 1 if row["np_"] * 5 > row["nt"] else 0
        e = bins.setdefault(b, [0, 0, 0])
        e[0] += 1
        e[1] += s
        e[2] += conv
    assert set(out) == set(bins)
    for b, (n, s, c) in bins.items():
        r = out[b]
        assert r["n_users"] == n
        assert abs(r["mean_score"] - s / n / 1e6) < 1e-6
        assert abs(r["observed_rate"] - c / n) < 1e-6


def test_mad_outliers_matches_numpy(spark):
    from spark_shp.queries_insights import q_mad_outliers
    out = {r["g"]: r for r in q_mad_outliers(spark, SF).collect()}
    df = _hourly_series(SF)
    for g, grp in df.groupby("g"):
        c = np.sort(grp.groupby("h").size().to_numpy())
        n = len(c)
        med = int(c[(n - 1) // 2])      # lower-middle convention
        ad = np.sort(np.abs(grp.groupby("h").size().to_numpy() - med))
        mad = int(ad[(n - 1) // 2])
        nout = int((np.abs(grp.groupby("h").size().to_numpy() - med)
                    > 3 * mad).sum())
        r = out[g]
        assert (r["median"], r["mad"], r["n_outliers"]) == (med, mad, nout)


def test_image_pipeline_dedup_and_filters(spark):
    from spark_shp.queries_insights import (PIPE_DUPS, PIPE_N,
                                            q_image_curation_pipeline)
    rows = q_image_curation_pipeline(spark, SF).collect()
    n_surv = sum(r["n_images"] for r in rows)
    n_with_dups = sum(r["n_with_dups"] for r in rows)
    # dedup must collapse every planted duplicate whose content passed
    # the quality gate; survivors are original ids only (checksum bound)
    assert n_with_dups - n_surv <= PIPE_DUPS
    assert n_surv <= PIPE_N
    assert n_surv > 0
    assert sum(r["checksum"] for r in rows) <= sum(range(PIPE_N))
    # at least one planted duplicate must actually flow through (else the
    # dedup stage is untested)
    assert n_with_dups > n_surv


def test_viewshed_los_matches_sequential_walk(spark):
    """Per-ray sequential line-of-sight walk over the procedural DEM must
    reproduce the gated band aggregates (strict-> visibility rule)."""
    from spark_shp.queries_insights import (VS_G, VS_MAST, VS_R,
                                            q_viewshed_los)
    exp = {}
    for y in range(VS_R):
        z0 = int(mix(y * 4096) % 1024) + VS_MAST
        runmax = None
        for x in range(1, VS_G):
            z = int(mix(y * 4096 + x) % 1024)
            ang = (z - z0) / x
            vis = runmax is None or ang > runmax
            runmax = ang if runmax is None else max(runmax, ang)
            b = y // 8
            st = exp.setdefault(b, [0, 0, 0, 0])
            st[0] += 1
            if vis:
                st[1] += 1
                st[2] += x + y * 4096
                st[3] += z
    got = {r["band"]: [r["n_cells"], r["n_visible"], r["vis_checksum"],
                       r["vis_elev_sum"]]
           for r in q_viewshed_los(spark, SF).collect()}
    assert got == exp
    # the DEM must actually occlude something (else the window is untested)
    assert any(st[1] < st[0] for st in exp.values())


def test_snap_nearest_edge_matches_bruteforce(spark):
    """numpy all-pairs clamped point-to-segment distance must agree with
    the gated argmin snap (including the packed-int tiebreak)."""
    from spark_shp.fixtures import nation_fences_np
    from spark_shp.queries_insights import q_snap_nearest_edge

    ev, lon, lat = _event_points(SF)
    nat = pd.read_parquet(f"{SF}/nation.parquet")
    keys = nat["n_nationkey"].to_numpy(dtype=np.int64)
    cx, cy, hw = nation_fences_np(keys)
    corners = [(-1, -1), (-1, 1), (1, 1), (1, -1), (-1, -1)]
    e_key, x1, y1, x2, y2 = [], [], [], [], []
    for i, k in enumerate(keys):
        for e in range(4):
            (sx1, sy1), (sx2, sy2) = corners[e], corners[e + 1]
            e_key.append(k)
            x1.append(cx[i] + sx1 * hw[i]); y1.append(cy[i] + sy1 * hw[i])
            x2.append(cx[i] + sx2 * hw[i]); y2.append(cy[i] + sy2 * hw[i])
    e_key = np.array(e_key); x1 = np.array(x1); y1 = np.array(y1)
    dx = np.array(x2) - x1; dy = np.array(y2) - y1
    agg = {}
    for p in range(len(lon)):
        wx = lon[p] - x1; wy = lat[p] - y1
        tc = np.minimum(1.0, np.maximum(0.0, (wx * dx + wy * dy)
                                        / (dx * dx + dy * dy)))
        d2 = (wx - tc * dx) ** 2 + (wy - tc * dy) ** 2
        d2q = np.floor(d2 * 1e6).astype(np.int64)
        k = int((d2q * 32 + e_key).min())
        nation, dq = k % 32, k // 32
        st = agg.setdefault(nation, [0, 0, None, None])
        st[0] += 1; st[1] += dq
        st[2] = dq if st[2] is None else min(st[2], dq)
        st[3] = dq if st[3] is None else max(st[3], dq)
    got = {r["nation"]: [r["n_events"], r["sum_d2q"], r["min_d2q"],
                         r["max_d2q"]]
           for r in q_snap_nearest_edge(spark, SF).collect()}
    assert got == agg


def test_kneser_ney_matches_sequential(spark):
    """Sequential python interpolated-KN trainer must reproduce the gated
    top-20 bigram probabilities."""
    from collections import Counter

    from spark_shp.queries_insights import q_kneser_ney_bigram

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    cvw = Counter()
    for t in docs["text"]:
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            cvw[(a, b)] += 1
    cv = Counter(); n1p_v = Counter(); n1p_w = Counter()
    for (v, w), c in cvw.items():
        cv[v] += c; n1p_v[v] += 1; n1p_w[w] += 1
    bt = len(cvw)
    top = sorted(cvw.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    exp = {}
    for (v, w), c in top:
        p = (max(c - 0.75, 0.0) / cv[v]
             + 0.75 * n1p_v[v] / cv[v] * (n1p_w[w] / bt))
        exp[(v, w)] = (c, round(p, 6))
    got = {(r["v"], r["w"]): (r["c_vw"], r["p_kn"])
           for r in q_kneser_ney_bigram(spark, SF).collect()}
    assert got == exp
    # probabilities must be proper and discounting must bite
    assert all(0.0 < p <= 1.0 for _, p in exp.values())


def test_url_domain_stats_matches_pandas(spark):
    """Pure-python URL synthesis + suffix extraction must reproduce the
    gated per-domain rollup (including the blocklist verdict)."""
    from spark_shp.queries_insights import (URL_BLOCKLIST, _URL_DOMS,
                                            _URL_SUBS, _URL_TLDS,
                                            q_url_domain_stats)
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    ids = docs["doc_id"].to_numpy(dtype=np.int64)
    sub = [_URL_SUBS[int(mix(i * 7 + 1) % 4)] for i in ids]
    dom = [_URL_DOMS[int(mix(i * 7 + 2) % 8)] for i in ids]
    tld = [_URL_TLDS[int(mix(i * 7 + 3) % 3)] for i in ids]
    df = pd.DataFrame({
        "host": [f"{s}.{d}.{t}" for s, d, t in zip(sub, dom, tld)],
        "rdom": [f"{d}.{t}" for d, t in zip(dom, tld)],
        "n_chars": docs["n_chars"].to_numpy(), "doc_id": ids})
    exp = {}
    for rdom, g in df.groupby("rdom"):
        exp[rdom] = (len(g), g["host"].nunique(), int(g["n_chars"].sum()),
                     int(g["doc_id"].sum()),
                     1 if rdom in URL_BLOCKLIST else 0)
    got = {r["domain"]: (r["n_docs"], r["n_hosts"], r["sum_chars"],
                         r["id_checksum"], r["blocked"])
           for r in q_url_domain_stats(spark, SF).collect()}
    assert got == exp
    assert any(b for *_, b in exp.values())    # blocklist must bite


def test_decision_stump_matches_numpy_argmin(spark):
    """Brute-force float Gini over every candidate split must pick the
    same bucket the packed-int argmin picks."""
    from spark_shp.queries_insights import q_decision_stump
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    bkt = np.floor(orders["o_totalprice"].to_numpy() / 1000).astype(np.int64)
    pos = (orders["o_orderstatus"] == "F").to_numpy().astype(np.int64)
    df = pd.DataFrame({"b": bkt, "p": pos}).groupby("b").agg(
        nb=("p", "size"), pb=("p", "sum")).sort_index()
    nl = df["nb"].cumsum().to_numpy()
    pl = df["pb"].cumsum().to_numpy()
    n, p = nl[-1], pl[-1]
    best, best_key = None, None
    for i, b in enumerate(df.index):
        if nl[i] >= n:
            continue
        gl = (pl[i] / nl[i]) * ((nl[i] - pl[i]) / nl[i])
        gr = (((p - pl[i]) / (n - nl[i]))
              * ((n - nl[i] - (p - pl[i])) / (n - nl[i])))
        wg = nl[i] / n * gl + (n - nl[i]) / n * gr
        key = (int(np.floor(wg * 1e12)), int(b))
        if best_key is None or key < best_key:
            best_key, best = key, (int(b), int(nl[i]), int(pl[i]),
                                   int(n - nl[i]), int(p - pl[i]))
    r = q_decision_stump(spark, SF).collect()
    assert len(r) == 1
    got = (r[0]["split_bucket"], r[0]["n_left"], r[0]["pos_left"],
           r[0]["n_right"], r[0]["pos_right"])
    assert got == best
    assert 0 < best[2] <= best[1]               # split must be non-trivial


def test_graph_modularity_matches_definitional_sum(spark):
    """The definitional double-sum Q_c = (1/2m)·Σ_{i,j∈c}(A_ij − d_i·d_j/2m)
    (a different formula than the shipped m_c/m − (D_c/2m)² identity) must
    agree with the gated per-brand modularity."""
    from spark_shp.queries_insights import q_graph_modularity
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    part = pd.read_parquet(f"{SF}/part.parquet")
    brand = dict(zip(part["p_partkey"], part["p_brand"]))
    edges = set()
    for _, g in li.groupby("l_orderkey"):
        ks = sorted(set(g["l_partkey"]))
        for i in range(len(ks)):
            for j in range(i + 1, len(ks)):
                edges.add((ks[i], ks[j]))
    m = len(edges)
    deg = {}
    adj = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    by_brand = {}
    for pk in deg:
        by_brand.setdefault(brand[pk], []).append(pk)
    got = {r["brand"]: r for r in q_graph_modularity(spark, SF).collect()}
    for bname, nodes in by_brand.items():
        s = 0.0
        for i in nodes:
            for j in nodes:
                # i == j stays in the null-model term (A_ii = 0, but the
                # d_i²/2m product is part of Newman's definition — it is
                # what makes the m_c/m − (D_c/2m)² identity exact)
                a_ij = 1.0 if i != j and j in adj.get(i, ()) else 0.0
                s += a_ij - deg[i] * deg[j] / (2.0 * m)
        q_def = s / (2.0 * m)
        r = got[bname]
        assert abs(r["q_c"] - q_def) < 2e-6
        assert r["degree_sum"] == sum(deg[i] for i in nodes)
    assert m > 0 and got and len(got) == len(by_brand)


def test_audio_resample_matches_sequential_lerp(spark):
    """Float linear interpolation at t = 3j/2 (×2 to compare against the
    doubled-int representation) must reproduce every gated stream stat."""
    from spark_shp.queries_insights import N_RS, q_audio_resample_stats
    exp = {}
    for i in range(N_RS):
        n = 100 + (i * 53) % 211
        s = [((i * 48271 + k * 16807) % 65536) - 32768 for k in range(n)]
        j, r2s = 0, []
        while True:
            t = 3 * j / 2.0
            k = int(np.floor(t))
            if t == k:
                if k > n - 1:
                    break
                v2 = 2 * s[k]
            else:
                if k + 1 > n - 1:
                    break
                v2 = round(2 * (s[k] + (t - k) * (s[k + 1] - s[k])))
            r2s.append(v2)
            j += 1
        exp[f"rs{i:03d}"] = (len(r2s), sum(abs(v) for v in r2s),
                             sum(v * (jj + 1) for jj, v in enumerate(r2s)))
    got = {r["media_id"]: (r["n_out"], r["sum_abs_r2"], r["pos_checksum"])
           for r in q_audio_resample_stats(spark, SF).collect()}
    assert got == exp


def test_ols_two_features_matches_numpy_lstsq(spark):
    """numpy least-squares on the same quantized design matrix must
    reproduce the gated betas/intercept/R² (round-6)."""
    from spark_shp.queries_insights import q_ols_two_features
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    got = {r["grp"]: r for r in q_ols_two_features(spark, SF).collect()}
    for grp, g in li.groupby("l_returnflag"):
        x1 = np.floor(g["l_quantity"].to_numpy() + 0.5)
        x2 = np.floor(g["l_discount"].to_numpy() * 100 + 0.5)
        y = np.floor(g["l_extendedprice"].to_numpy() * 100 + 0.5)
        A = np.column_stack([np.ones_like(x1), x1, x2])
        coef, *_ = np.linalg.lstsq(A, y, rcond=None)
        pred = A @ coef
        ss_res = float(((y - pred) ** 2).sum())
        ss_tot = float(((y - y.mean()) ** 2).sum())
        r = got[grp]
        assert abs(r["beta_qty"] - coef[1]) < 1e-4
        assert abs(r["beta_disc"] - coef[2]) < 1e-2   # |beta2| ~ 1e4
        assert abs(r["intercept"] - coef[0]) < 1e-2
        assert abs(r["r_squared"] - (1.0 - ss_res / ss_tot)) < 1e-6
        assert r["n"] == len(g)
    assert len(got) == li["l_returnflag"].nunique()


def test_dedup_incremental_matches_sequential(spark):
    """Pure-python sequential MinHash/LSH index probe must reproduce every
    new-shard verdict row."""
    from spark_shp.queries_insights import q_dedup_incremental
    from spark_shp.queries_text import N_PERMS

    def word_hash(w):
        c1 = ord(w[0]) if len(w) >= 1 else 0
        c2 = ord(w[1]) if len(w) >= 2 else 0
        return int(mix(len(w) * 1000003 + c1 * 251 + c2 * 31))

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    docs = docs[docs["doc_id"] % 10 == 0]
    bands = {}
    for _, row in docs.iterrows():
        whs = {word_hash(w) for w in row["text"].split(" ")}
        sig = [min(int(mix(wh + p * 7919)) for wh in whs)
               for p in range(N_PERMS)]
        bs = {}
        for band in range(N_PERMS // 2):
            parts = sorted(f"{p}:{sig[p]}" for p in (2 * band, 2 * band + 1))
            bs[band] = "_".join(parts)
        bands[int(row["doc_id"])] = bs
    exp = {}
    for did, bs in bands.items():
        if did % 50 != 0:
            continue
        hits, matched = set(), None
        for old, obs in bands.items():
            if old % 50 == 0:
                continue
            for band, s in bs.items():
                if obs[band] == s:
                    hits.add(band)
                    matched = old if matched is None else min(matched, old)
        exp[did] = (1 if hits else 0, matched, len(hits))
    got = {r["doc_id"]: (r["is_dup"], r["matched_old"], r["n_band_hits"])
           for r in q_dedup_incremental(spark, SF).collect()}
    assert got == exp
    # the planted corpus must exercise both verdicts
    assert any(v[0] for v in exp.values())
    assert any(not v[0] for v in exp.values())


# --- t_closeness ------------------------------------------------------------


def test_t_closeness_matches_pandas(spark):
    """Independent pandas replication of the TVD audit + the structural
    laws: 0 <= t <= 1, and classes exist on both sides of the global
    distribution (the audit actually discriminates)."""
    from spark_shp.queries_insights import (TCLOSE_LVL, _TC_TYPES,
                                            q_t_closeness)
    got = q_t_closeness(spark, SF).toPandas()
    # replicate the base projection via DuckDB (pandas groupbys from there)
    import duckdb
    from spark_shp import cells, fixtures
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, TCLOSE_LVL)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{SF}/events.parquet')")
    base = con.execute(
        f"SELECT event_type, CAST(FLOOR(epoch_us(ts) / 3600000000) AS "
        f"BIGINT) % 24 AS hod, {ix} AS cx, {iy} AS cy FROM events"
    ).fetch_df()
    nn = len(base)
    g = base.event_type.value_counts().to_dict()
    grp = base.groupby(["hod", "cx", "cy"])
    exp = {}
    for key, sub in grp:
        n_c = len(sub)
        cnt = sub.event_type.value_counts().to_dict()
        num = sum(abs(cnt.get(t, 0) * nn - g.get(t, 0) * n_c)
                  for t in _TC_TYPES)
        exp[key] = (n_c, num, num / (2.0 * n_c * nn))
    assert len(got) == len(exp)
    fired = 0
    for r in got.itertuples():
        n_c, num, tvd = exp[(r.hod, r.cx, r.cy)]
        assert r.n_c == n_c and r.tvd_num == num
        assert abs(r.tvd - tvd) < 1e-12
        assert 0.0 <= r.tvd <= 1.0
        fired += r.tvd_num > 0
    assert fired > 0  # the audit discriminates (equal-but-zero blind spot)


def _sh_clip_halfplane(ring, c):
    """Vertex-level Sutherland–Hodgman clip of a closed ring against
    x + y <= c — the textbook algorithm the edge-local operator avoids;
    used here as the independent cross-check. Returns the clipped ring
    (open vertex list)."""
    pts = [tuple(p) for p in ring[:-1]] if tuple(ring[0]) == tuple(ring[-1]) \
        else [tuple(p) for p in ring]
    out = []
    n = len(pts)
    for i in range(n):
        ax, ay = pts[i]
        bx, by = pts[(i + 1) % n]
        ain, bin_ = ax + ay <= c, bx + by <= c
        if ain:
            out.append((ax, ay))
        if ain != bin_:
            t = (c - ax - ay) / ((bx + by) - (ax + ay))
            out.append((ax + t * (bx - ax), ay + t * (by - ay)))
    return out


def _shoelace2_signed(pts):
    """Doubled signed shoelace area, CCW positive (standard convention)."""
    s = 0.0
    n = len(pts)
    for i in range(n):
        ax, ay = pts[i]
        bx, by = pts[(i + 1) % n]
        s += ax * by - bx * ay
    return s


def test_halfplane_clip_matches_sutherland_hodgman(spark):
    from spark_shp.queries_insights import HP_Q, q_halfplane_clip_area

    out = {r["poly_id"]: r for r in q_halfplane_clip_area(spark, SF).collect()}
    assert len(out) == 64
    for j in range(64):
        rings = [np.floor(r * HP_Q) for r in fixtures.fence_rings(j)]
        c = out[j]["c_diag"]
        # independent totals: signed shoelace over all rings (CW outers
        # negative under the standard convention -> negate the sum)
        total2 = -sum(_shoelace2_signed([tuple(p) for p in r[:-1]])
                      for r in rings)
        clip2 = -sum(_shoelace2_signed(_sh_clip_halfplane(r, c))
                     for r in rings)
        assert out[j]["area2_total"] == int(round(total2))
        assert out[j]["area2_clip"] == int(round(clip2)), j
        # laws: the clip is a strict subregion cut through the interior
        assert 0 <= out[j]["area2_clip"] <= out[j]["area2_total"]
        assert abs(out[j]["clip_frac"]
                   - out[j]["area2_clip"] / out[j]["area2_total"]) < 1e-6
    # the mid-diagonal genuinely cuts most fences (not a degenerate gate)
    cut = sum(1 for j in range(64)
              if 0 < out[j]["area2_clip"] < out[j]["area2_total"])
    assert cut >= 48


def test_map_match_matches_all_pairs_brute_force(spark):
    """Global nearest-segment over ALL (event, road) pairs — no cell
    candidates — proving the ring join lossless, with integer //
    quantization verifying the float-FLOOR no-flip claim."""
    from spark_shp.queries_insights import (MM_Q, MM_R, MM_ROADS,
                                            MM_WORLD_X, MM_WORLD_Y,
                                            q_map_match_roads)

    def m(k):
        return int(mix(k))

    roads = []
    for rid in range(MM_ROADS):
        x1 = 2000 + m(rid * 9 + 1) % 36000
        y1 = 2000 + m(rid * 9 + 2) % 16000
        dx = ((m(rid * 9 + 3) % 2) * 2 - 1) * (200 + m(rid * 9 + 4) % 1801)
        dy = m(rid * 9 + 5) % 4001 - 2000
        assert 0 <= x1 + dx < MM_WORLD_X and 0 <= y1 + dy < MM_WORLD_Y
        roads.append((rid, x1, y1, dx, dy, dx * dx + dy * dy))

    ev = pd.read_parquet(f"{SF}/events.parquet")
    eids = ev["event_id"].to_numpy(dtype=np.int64)
    per_road, unmatched = {}, 0
    for eid in eids.tolist():
        ex = m(eid * 11 + 3) % MM_WORLD_X
        ey = m(eid * 11 + 4) % MM_WORLD_Y
        best = None
        for rid, x1, y1, dx, dy, len2 in roads:
            apx, apy = ex - x1, ey - y1
            dot = apx * dx + apy * dy
            dotc = min(max(dot, 0), len2)
            num = ((apx * apx + apy * apy) * len2
                   - 2 * dotc * dot + dotc * dotc)
            if num <= MM_R * MM_R * len2:
                pack = (num * MM_Q) // len2 * 256 + rid
                best = pack if best is None else min(best, pack)
        if best is None:
            unmatched += 1
        else:
            a = per_road.setdefault(best % 256, [0, 0])
            a[0] += 1
            a[1] += best // 256
    rows = {r.road_id: r for r in q_map_match_roads(spark, SF).collect()}
    assert rows[-1].n_events == unmatched
    assert {k for k in rows if k >= 0} == set(per_road)
    for rid, (n, s) in per_road.items():
        r = rows[rid]
        assert (r.n_events, r.sum_d2q) == (n, s), rid
        assert abs(r.mean_d2 - round(s / (MM_Q * n), 6)) < 1e-9, rid
    # planted structure: both outcomes + a spread of roads hit
    assert 0 < unmatched < len(eids)
    assert len(per_road) > 20


def test_idw_matches_all_pairs_brute_force(spark):
    """IDW re-derived over ALL (probe, event) pairs with python integer
    arithmetic — proves the ring join lossless and the exact-division
    weight identical to the subtract-remainder SQL form."""
    from spark_shp.queries_insights import (IDW_PROBES, IDW_R, IDW_WQ,
                                            MM_WORLD_X, MM_WORLD_Y,
                                            q_idw_interpolation)
    ev = pd.read_parquet(f"{SF}/events.parquet")
    eids = ev["event_id"].to_numpy(dtype=np.int64)
    vals = ev["value"].to_numpy()
    exs = [int(mix(int(e) * 11 + 3)) % MM_WORLD_X for e in eids]
    eys = [int(mix(int(e) * 11 + 4)) % MM_WORLD_Y for e in eids]
    vcs = [int(np.floor(v * 100 + 0.5)) for v in vals]
    got = {r.probe_id: r for r in q_idw_interpolation(spark, SF).collect()}
    assert len(got) == IDW_PROBES
    n_nonempty = 0
    for pid in range(IDW_PROBES):
        px = int(mix(pid * 13 + 1)) % MM_WORLD_X
        py = int(mix(pid * 13 + 2)) % MM_WORLD_Y
        n = swv = sw = 0
        for ex, ey, vc in zip(exs, eys, vcs):
            d2 = (ex - px) ** 2 + (ey - py) ** 2
            if d2 <= IDW_R * IDW_R:
                wq = IDW_WQ // (1 + d2)
                n += 1
                swv += wq * vc
                sw += wq
        r = got[pid]
        assert (r.px, r.py, r.n_samples) == (px, py, n), pid
        if n == 0:
            assert r.idw_value is None, pid
        else:
            n_nonempty += 1
            assert abs(r.idw_value - round(swv / sw / 100.0, 6)) < 1e-9, pid
    # structure: some probes see samples, estimates are value-scaled
    assert n_nonempty > IDW_PROBES // 2


def test_motion_vectors_match_pixel_loop_and_recover_planted(spark):
    """Plain per-pixel python block matcher straight from the pixel
    formula (never touching the codec) — and the planted-motion law:
    every block's argmin recovers exactly (-vx, -vy)."""
    from spark_shp.queries_insights import (MV_BLOCKS, N_MV_AVI,
                                            q_video_motion_vectors)

    def pix(i, vx, vy, f, y, x, c):
        base = (i * 11 + (x + 100 - vx * f) * 29
                + (y + 100 - vy * f) * 17 + c * 13) % 256
        return (base + (i + f * 31 + y * 7 + x * 3 + c) % 3) % 256

    got = {r.media_id: r for r in
           q_video_motion_vectors(spark, SF).collect()}
    assert len(got) == N_MV_AVI
    for i in range(N_MV_AVI):
        nf, vx, vy = 5 + i % 3, i % 5 - 2, (i * 3 + 1) % 5 - 2
        nb = nc = st = vc = 0
        for f in range(1, nf):
            for b, (bx, by) in enumerate(MV_BLOCKS):
                best = None
                for dy in range(-2, 3):
                    for dx in range(-2, 3):
                        sad = 0
                        for qy in range(8):
                            for qx in range(8):
                                for c in range(3):
                                    sad += abs(
                                        pix(i, vx, vy, f,
                                            by + qy, bx + qx, c)
                                        - pix(i, vx, vy, f - 1,
                                              by + qy + dy,
                                              bx + qx + dx, c))
                        pack = sad * 32 + (dy + 2) * 5 + (dx + 2)
                        best = pack if best is None else min(best, pack)
                off = best % 32
                nb += 1
                nc += (off % 5 - 2, off // 5 - 2) == (-vx, -vy)
                st += best // 32
                vc += best * ((f - 1) * 6 + b + 1)
        r = got[f"avi{i:03d}"]
        assert (r.n_blocks, r.n_correct, r.sad_total,
                r.vec_checksum) == (nb, nc, st, vc), i
        # the planted translation is recovered at EVERY block
        assert r.n_correct == r.n_blocks, i


def test_areal_interpolation_matches_numpy_and_conserves(spark):
    """Numpy replication of clamp/overlap/weight/allocation, plus the
    dasymetric conservation law: per fence, allocated counts sum to the
    fence count up to the documented DIV truncation (< n_cells counts
    plus the weight-quantization deficit)."""
    from spark_shp import hashing
    from spark_shp.queries_insights import (AREAL_Q, _AREAL_CH, _AREAL_CW,
                                            _areal_fences,
                                            q_areal_interpolation)
    out = {(r["n_nationkey"], r["ix"], r["iy"]): r
           for r in q_areal_interpolation(spark, SF).collect()}

    e = pd.read_parquet(f"{SF}/events.parquet")
    eid = e["event_id"].to_numpy(dtype=np.int64)
    ex = np.floor((hashing.u01(eid) * 360.0 - 180.0) * 1000).astype(np.int64)
    ey = np.floor((hashing.u01(eid * 2 + 1) * 170.0 - 85.0) * 1000) \
        .astype(np.int64)
    cand = _areal_fences()
    fences = {}
    for k, x1, x2, y1, y2, ix, iy in cand:
        fences[k] = (x1, x2, y1, y2)
    cnt = {k: int(((ex >= x1) & (ex < x2) & (ey >= y1) & (ey < y2)).sum())
           for k, (x1, x2, y1, y2) in fences.items()}
    expect = {}
    for k, x1, x2, y1, y2, ix, iy in cand:
        ov = (max(0, min(x2, (ix + 1) * _AREAL_CW - 180000)
                  - max(x1, ix * _AREAL_CW - 180000))
              * max(0, min(y2, (iy + 1) * _AREAL_CH - 85000)
                    - max(y1, iy * _AREAL_CH - 85000)))
        if ov <= 0:
            continue
        farea = (x2 - x1) * (y2 - y1)
        wq = (ov * AREAL_Q) // farea
        expect[(k, ix, iy)] = (ov, wq, cnt[k], (cnt[k] * wq) // AREAL_Q)
    assert set(out) == set(expect)
    for key, (ov, wq, c, alloc) in expect.items():
        r = out[key]
        assert (r["overlap_md2"], r["weight_q"], r["fence_events"],
                r["allocated"]) == (ov, wq, c, alloc)
    # conservation per fence
    for k, (x1, x2, y1, y2) in fences.items():
        cells_k = [v for key, v in expect.items() if key[0] == k]
        total = sum(v[3] for v in cells_k)
        ncell = len(cells_k)
        bound = ncell + cnt[k] * ncell / AREAL_Q + 1
        assert cnt[k] - bound <= total <= cnt[k]
    # some fence actually straddles a cell boundary (the op is not a
    # one-cell no-op)
    assert any(len([1 for key in expect if key[0] == k]) > 1
               for k in fences)


def test_video_keyframes_matches_python_and_prefers_cuts(spark):
    """Frame-by-frame python replay through the real codec, plus the
    design law: whenever a chunk contains a scene boundary, the
    boundary frame (SAD spike) IS the chunk's keyframe."""
    from spark_shp import riff
    from spark_shp.queries_insights import (KEYF_CHUNK, N_SCENE_AVI,
                                            _scene_params,
                                            q_video_keyframes)
    out = {(r["media_id"], r["chunk"]): r
           for r in q_video_keyframes(spark, SF).collect()}

    n_boundary_chunks = 0
    for i in range(N_SCENE_AVI):
        nf, w, h, seg = _scene_params(i)
        frames = np.zeros((nf, h, w, 3), dtype=np.uint8)
        for f in range(nf):
            for y in range(h):
                for x in range(w):
                    for c in range(3):
                        frames[f, y, x, c] = (i * 7 + (f // seg) * 997
                                              + f * 3 + y * 17 + x * 29
                                              + c * 13) % 256
        dec, _ = riff.avi_decode(riff.avi_encode(frames, fps=10))
        d = dec.astype(np.int64)
        sads = {f: int(np.abs(d[f] - d[f - 1]).sum())
                for f in range(1, nf)}
        chunks = {}
        for f, s in sads.items():
            chunks.setdefault((f - 1) // KEYF_CHUNK, []).append((f, s))
        for ch, fs in chunks.items():
            best = max(fs, key=lambda t: (t[1], -t[0]))
            row = out[(f"avi{i:03d}", ch)]
            assert (row["n_in_chunk"], row["key_frame"], row["key_sad"],
                    row["chunk_sad"]) == (len(fs), best[0], best[1],
                                          sum(s for _, s in fs))
            bounds = [f for f, _ in fs if f % seg == 0]
            if bounds:
                assert row["key_frame"] in bounds
                n_boundary_chunks += 1
    assert n_boundary_chunks > 5


def test_group_sequential_matches_python_and_monitoring_laws(spark):
    """Python replay of the five interim looks, plus the group-
    sequential design laws: active-user counts are nondecreasing in the
    look index, the OBF boundary is strictly decreasing, and the final
    look's numbers equal the fixed-horizon ab_test_ztest readout."""
    from spark_shp.hashing import mix
    from spark_shp.queries_insights import (GST_BOUNDS, GST_K,
                                            q_ab_test_ztest,
                                            q_group_sequential)
    rows = {r["look"]: r for r in q_group_sequential(spark, SF).collect()}
    assert len(rows) == GST_K

    e = pd.read_parquet(f"{SF}/events.parquet")
    us = e["ts"].astype("int64").to_numpy()
    tmin, tmax = int(us.min()), int(us.max())
    b = np.minimum(GST_K - 1, ((us - tmin) * GST_K) // (tmax - tmin + 1))
    p = (e["event_type"] == "purchase").astype(int).to_numpy()
    uid = e["user_id"].to_numpy(dtype=np.int64)
    for k in range(1, GST_K + 1):
        m = b < k
        df = pd.DataFrame({"u": uid[m], "p": p[m]})
        g = df.groupby("u")["p"].agg(["sum", "count"])
        conv = (g["sum"] * 5 > g["count"]).astype(int)
        v = mix(g.index.to_numpy() * 7 + 5).astype(np.int64) % 2
        na, nb = int((v == 0).sum()), int((v == 1).sum())
        ca = int(conv[v == 0].sum())
        cb = int(conv[v == 1].sum())
        r = rows[k]
        assert (r["n_a"], r["n_b"], r["conv_a"], r["conv_b"]) \
            == (na, nb, ca, cb)
        pool = (ca + cb) / (na + nb)
        z = ((ca / na - cb / nb)
             / np.sqrt(pool * (1 - pool) * (1 / na + 1 / nb)))
        assert abs(r["z_score"] - z) < 1e-5
        assert abs(r["obf_bound"] - GST_BOUNDS[k - 1]) < 1e-9
        assert r["crossed"] == int(abs(r["z_score"]) > r["obf_bound"])
    # monotone enrollment + decreasing boundary
    ns = [rows[k]["n_a"] + rows[k]["n_b"] for k in range(1, GST_K + 1)]
    assert all(a <= c for a, c in zip(ns, ns[1:]))
    assert all(x > y for x, y in zip(GST_BOUNDS, GST_BOUNDS[1:]))
    # final look == fixed-horizon test
    ab = q_ab_test_ztest(spark, SF).collect()[0]
    last = rows[GST_K]
    assert (last["n_a"], last["n_b"], last["conv_a"], last["conv_b"]) \
        == (ab["n_a"], ab["n_b"], ab["conv_a"], ab["conv_b"])


def test_rayleigh_matches_numpy_and_statistics_laws(spark):
    """Numpy replication of the quantized circular moments, plus the
    circular-statistics laws: 0 <= Rbar <= 1, z = n * Rbar^2, and a
    synthetic uniform sample would score far lower than a clustered
    one (checked by comparing to the theoretical uniform expectation
    E[z] ~ 1: the event fixture's values land near it or above)."""
    from spark_shp.queries_insights import RAY_Q, q_rayleigh_uniformity
    out = {r["event_type"]: r
           for r in q_rayleigh_uniformity(spark, SF).collect()}

    e = pd.read_parquet(f"{SF}/events.parquet")
    us = e["ts"].astype("int64").to_numpy()
    theta = (us % 86_400_000_000) * (2 * np.pi / 86_400_000_000.0)
    cq = np.floor(np.cos(theta) * RAY_Q + 0.5).astype(np.int64)
    sq = np.floor(np.sin(theta) * RAY_Q + 0.5).astype(np.int64)
    df = pd.DataFrame({"t": e["event_type"], "c": cq, "s": sq})
    for t, g in df.groupby("t"):
        n = len(g)
        sc, ss = int(g["c"].sum()), int(g["s"].sum())
        rbar = np.sqrt(float(sc) ** 2 + float(ss) ** 2) / (n * RAY_Q)
        z = (float(sc) ** 2 + float(ss) ** 2) / (n * RAY_Q * RAY_Q)
        r = out[t]
        assert (r["n"], r["sc"], r["ss"]) == (n, sc, ss)
        assert abs(r["rbar"] - rbar) < 1e-5
        assert abs(r["rayleigh_z"] - z) < 1e-4
        assert 0.0 <= r["rbar"] <= 1.0
        assert abs(r["rayleigh_z"] - r["n"] * r["rbar"] ** 2) \
            < 1e-2 * max(1.0, r["rayleigh_z"])
        assert -180.0 <= r["mean_angle_deg"] <= 180.0


def test_rolling_regression_matches_numpy_polyfit(spark):
    """Per-frame numpy polyfit over the trailing 24 observed hours —
    a genuinely different solver (least-squares QR) than the moment
    formula; slopes must agree to the rounding tolerance, frames must
    be exactly the observed-hour windows, and slopes must vary."""
    from spark_shp.queries_insights import ROLL_W, q_rolling_regression
    out = {(r["event_type"], r["hour_x"]): r
           for r in q_rolling_regression(spark, SF).collect()}
    assert out

    e = pd.read_parquet(f"{SF}/events.parquet")
    e["h"] = e["ts"].astype("int64") // 3_600_000_000
    e["vc"] = np.floor(e["value"] * 100 + 0.5).astype(np.int64)
    slopes = []
    for g, gg in e.groupby("event_type"):
        ser = gg.groupby("h")["vc"].sum().sort_index()
        xs = (ser.index - ser.index.min()).to_numpy(dtype=np.int64)
        ys = ser.to_numpy(dtype=np.int64)
        for j in range(ROLL_W - 1, len(xs)):
            xw = xs[j - ROLL_W + 1:j + 1].astype(float)
            yw = ys[j - ROLL_W + 1:j + 1].astype(float)
            slope = np.polyfit(xw, yw, 1)[0]
            r = out[(g, int(xs[j]))]
            assert abs(r["slope_cents_per_hour"] - slope) \
                < 1e-4 * max(1.0, abs(slope))
            slopes.append(slope)
    assert len(slopes) == len(out)
    assert np.std(slopes) > 0


def test_type_profile_similarity_matches_numpy(spark):
    """numpy cosine over the dense 24-bin histograms (missing bins as
    zeros — the shared-bin dot is exact because absent counts are 0,
    but norms must be full-histogram, which this replication proves),
    plus the cosine laws: values in (0, 1], all 10 pairs present."""
    from spark_shp.queries_insights import q_type_profile_similarity
    out = {(r["type_a"], r["type_b"]): r
           for r in q_type_profile_similarity(spark, SF).collect()}
    e = pd.read_parquet(f"{SF}/events.parquet")
    e["hod"] = (e["ts"].astype("int64") % 86_400_000_000) \
        // 3_600_000_000
    types = sorted(e["event_type"].unique())
    hist = {t: np.zeros(24, dtype=np.int64) for t in types}
    for (t, h), n in e.groupby(["event_type", "hod"]).size().items():
        hist[t][int(h)] = n
    assert len(out) == len(types) * (len(types) - 1) // 2
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            va, vb = hist[a], hist[b]
            cos = float(va @ vb) / np.sqrt(float(va @ va) * (vb @ vb))
            r = out[(a, b)]
            assert r["dot"] == int(va @ vb)
            assert abs(r["cosine"] - cos) < 1e-6
            assert 0.0 < r["cosine"] <= 1.0


def test_l_moments_matches_direct_formula_and_bounds(spark):
    """Direct numpy computation of Hosking's probability-weighted
    moments over the sorted sample, plus the L-moment bounds: l2 > 0,
    |L-skew| < 1, and L-kurtosis in [(5*t3^2 - 1)/4, 1)."""
    from spark_shp.queries_insights import q_l_moments
    out = {r["event_type"]: r for r in q_l_moments(spark, SF).collect()}

    e = pd.read_parquet(f"{SF}/events.parquet")
    e["x"] = np.floor(e["value"] * 100 + 0.5).astype(np.int64)
    for g, gg in e.groupby("event_type"):
        xs = gg.sort_values(["x", "event_id"])["x"] \
            .to_numpy(dtype=np.float64)
        n = len(xs)
        i = np.arange(1, n + 1, dtype=np.float64)
        b0 = xs.sum() / n
        b1 = ((i - 1) * xs).sum() / (n * (n - 1))
        b2 = ((i - 1) * (i - 2) * xs).sum() / (n * (n - 1) * (n - 2))
        b3 = (((i - 1) * (i - 2) * (i - 3) * xs).sum()
              / (n * (n - 1) * (n - 2) * (n - 3)))
        l1, l2 = b0, 2 * b1 - b0
        l3 = 6 * b2 - 6 * b1 + b0
        l4 = 20 * b3 - 30 * b2 + 12 * b1 - b0
        r = out[g]
        assert r["n"] == n and r["s0"] == int(gg["x"].sum())
        assert abs(r["l1_cents"] - l1) < 1e-3 * max(1.0, abs(l1))
        assert abs(r["l2_cents"] - l2) < 1e-3 * max(1.0, abs(l2))
        assert abs(r["l_skew"] - l3 / l2) < 1e-4
        assert abs(r["l_kurt"] - l4 / l2) < 1e-4
        assert r["l2_cents"] > 0
        assert abs(r["l_skew"]) < 1.0
        t3 = r["l_skew"]
        assert (5 * t3 * t3 - 1) / 4 - 1e-9 <= r["l_kurt"] < 1.0


def test_gumbel_fit_matches_numpy_and_return_level_laws(spark):
    """numpy replication of the block-maxima L-moment fit, plus the
    extreme-value laws: sigma > 0, return levels increase with the
    return period, and the 10-year level exceeds the sample median of
    the daily maxima (it is the ~90th percentile of the fitted law)."""
    import math
    from spark_shp.queries_insights import q_gumbel_fit
    out = {r["event_type"]: r for r in q_gumbel_fit(spark, SF).collect()}

    e = pd.read_parquet(f"{SF}/events.parquet")
    us = e["ts"].astype("int64")
    e["d"] = us // 86_400_000_000
    e["h"] = us // 3_600_000_000
    e["vc"] = np.floor(e["value"] * 100 + 0.5).astype(np.int64)
    for g, gg in e.groupby("event_type"):
        hs = gg.groupby(["d", "h"])["vc"].sum()
        dm = hs.groupby(level=0).max().sort_values().to_numpy(float)
        n = len(dm)
        l1 = dm.mean()
        i = np.arange(1, n + 1, dtype=float)
        l2 = 2 * ((i - 1) * dm).sum() / (n * (n - 1)) - l1
        sig = l2 / math.log(2.0)
        mu = l1 - 0.5772156649015329 * sig
        r = out[g]
        assert r["n_days"] == n
        assert abs(r["mu_cents"] - mu) < 1e-3 * max(1.0, abs(mu))
        assert abs(r["sigma_cents"] - sig) < 1e-3 * max(1.0, abs(sig))
        assert r["sigma_cents"] > 0
        assert r["return_10"] < r["return_100"]
        assert r["return_10"] > np.median(dm)


def test_pot_exceedances_matches_numpy_and_tail_laws(spark):
    """numpy replication of the rank threshold, excesses, and
    moment-fit GPD parameters; plus the POT laws: ~10% of hours
    exceed, mean excess is positive, and beta > 0."""
    from spark_shp.queries_insights import q_pot_exceedances
    out = {r["event_type"]: r
           for r in q_pot_exceedances(spark, SF).collect()}

    e = pd.read_parquet(f"{SF}/events.parquet")
    e["h"] = e["ts"].astype("int64") // 3_600_000_000
    e["vc"] = np.floor(e["value"] * 100 + 0.5).astype(np.int64)
    for g, gg in e.groupby("event_type"):
        ys = gg.groupby("h")["vc"].sum().reset_index() \
            .sort_values(["vc", "h"])
        y = ys["vc"].to_numpy(dtype=np.int64)
        n = len(y)
        u = int(y[(9 * n) // 10 - 1])
        exc = y[y > u].astype(np.float64) - u
        ne = len(exc)
        m = exc.mean()
        s2 = exc.var()
        r = out[g]
        assert (r["n_hours"], r["threshold_cents"], r["n_exceed"]) \
            == (n, u, ne)
        assert abs(r["mean_excess"] - m) < 1e-3 * max(1.0, m)
        r2 = m * m / s2
        assert abs(r["gpd_xi"] - (1 - r2) / 2) < 1e-4
        assert abs(r["gpd_beta"] - m * (1 + r2) / 2) \
            < 1e-3 * max(1.0, abs(m))
        assert 0.05 * n < ne <= 0.15 * n
        assert r["mean_excess"] > 0 and r["gpd_beta"] > 0


def test_getis_ord_matches_numpy(spark):
    """Gi* replicated sequentially in python (dict scatter + textbook
    formula) — class counts, quantized z sums, and checksums must match
    the distributed result exactly."""
    import math

    from spark_shp import cells
    from spark_shp.queries_insights import GI_LVL, q_getis_ord_hotspots

    out = {r["cls"]: r for r in
           q_getis_ord_hotspots(spark, SF).collect()}
    ev, lon, lat = _event_points(SF)
    ix, iy = cells.quantize(lon, lat, GI_LVL)
    cnt = pd.DataFrame({"ix": ix, "iy": iy}).groupby(
        ["ix", "iy"]).size().to_dict()
    n, sx = len(cnt), sum(cnt.values())
    sxx = sum(x * x for x in cnt.values())
    xbar = sx / n
    s = math.sqrt(sxx / n - xbar * xbar)
    nside = 1 << GI_LVL
    agg = {}
    for (cx, cy) in cnt:
        s1 = w = 0
        for a in (-1, 0, 1):
            for b in (-1, 0, 1):
                if not (0 <= cx + a < nside and 0 <= cy + b < nside):
                    continue
                if (cx + a, cy + b) in cnt:
                    s1 += cnt[(cx + a, cy + b)]
                    w += 1
        if n * w - w * w <= 0 or sxx * n <= sx * sx:
            z = None
        else:
            z = ((s1 - xbar * w)
                 / (s * math.sqrt((n * w - w * w) / (n - 1.0))))
        cls = ("ns" if z is None else
               "hot99" if z >= 2.576 else "hot95" if z >= 1.96 else
               "cold99" if z <= -2.576 else
               "cold95" if z <= -1.96 else "ns")
        zq = math.floor((z or 0.0) * 1e6)
        a_ = agg.setdefault(cls, [0, 0, None, 0])
        a_[0] += 1
        a_[1] += zq
        a_[2] = zq if a_[2] is None else max(a_[2], zq)
        a_[3] += cx * 64 + cy
    assert set(out) == set(agg)
    for c, (nc, szq, mzq, chk) in agg.items():
        r = out[c]
        assert (r["n_cells"], r["sum_zq"], r["max_zq"],
                r["checksum"]) == (nc, szq, mzq, chk)
    # a real hotspot structure must exist at this SF
    assert any(c.startswith("hot") for c in agg)


def test_plan_shapes_of_round4_ops(spark):
    """Round-4 plan pins: the rank-free l_moments must carry exactly ONE
    corpus-keyed exchange (the (type, cents) partial-agg shuffle) and —
    the whole point of the rework — NO sort of corpus-scale data (only
    the window over the tiny per-(g,x) aggregate sorts). Gi* carries the
    grid agg + scatter agg exchanges and no Python nodes."""
    from spark_shp.queries_insights import (q_getis_ord_hotspots,
                                            q_l_moments)

    lm = q_l_moments(spark, SF)
    plan = lm._jdf.queryExecution().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    physical = lm._jdf.queryExecution().executedPlan().toString()
    # exactly two hash exchanges: the (g,x) partial-agg corpus shuffle
    # (map-side combined) and the g-keyed repartition of the TINY
    # aggregate for its cumulative window — nothing else
    assert physical.count("Exchange hashpartitioning") == 2
    # the only sort is the tiny window's (over |g|·|distinct x| rows);
    # the corpus path itself is sort-free — the whole point
    assert physical.count("Sort ") <= 1

    gi = q_getis_ord_hotspots(spark, SF)
    phys_gi = gi._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in phys_gi
    # grid agg, scatter agg, join, final class agg — bounded exchanges
    assert phys_gi.count("Exchange hashpartitioning") <= 5


def test_header_audit_jpg_and_unknown_fmt(spark):
    """ADVICE r4 #5: header_audit must parse jpg SOF0 dims (JFIF has no
    fixed-offset dims) and fail loudly on unknown fmt values."""
    from spark_shp import multimodal
    from spark_shp.jpeg import jpeg_encode

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    blob = jpeg_encode(img, 90)
    rows = [("ok", bytearray(blob), 24, 16, "jpg"),
            ("bad", bytearray(blob), 25, 16, "jpg")]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, "
                                     "w int, h int, fmt string")
    out = {r["image_id"]: r["hdr_ok"]
           for r in multimodal.header_audit(df).collect()}
    assert out == {"ok": 1, "bad": 0}

    bad = spark.createDataFrame([("x", bytearray(b"zz"), 1, 1, "tiff")],
                                "image_id string, bytes binary, "
                                "w int, h int, fmt string")
    with pytest.raises(Exception, match="unknown image fmt"):
        multimodal.header_audit(bad).collect()
