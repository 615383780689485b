"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same arguments write byte-identical files, and the expected results the
benchmark checks against are computed here in plain Python, never by the
engine under test. (The `analytics` workload generates nothing: it reads
the repository's fixed TESTDATA.)

  etl_daily   YouTube-API-shaped raw JSON for D consecutive days, laid out
              raw/YYYY/MM/DD/{videos,channels}_*.json, plus the totals the
              medallion load must produce after each day
  table_cdc   an events table with seeded key skew, an upsert batch, and
              the SQL statement sequence the workload runs
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = "signup click error view purchase".split()


def _write(path, columns):
    pq.write_table(pa.table(columns), path, compression="snappy")


# ---------------------------------------------------------------- etl_daily

# The medallion load's sentiment lexicon (graft.functions.Sentiment.Default)
# plus neutral filler, so titles and tags exercise the keyword matcher.
LEXICON = ("fast join merge sort group improve guide tutorial help growth "
           "learn tips success solution advice slow fail drama crash error "
           "worst terrible skew spill leak hate trash crisis disaster "
           "warning failure").split()
FILLER = "daily vlog morning show news late night review live music".split()
CATEGORIES = [1, 10, 15, 17, 19, 20, 22, 23, 24, 25, 26, 27, 28, 29, 99]
COUNTRIES = ["US", "GB", "IN", "PK", "DE", "BR", None]


def _jstr(s):
    return json.dumps(s, ensure_ascii=False)


def _video_json(v):
    snippet = []
    if v["channel"] is not None:
        snippet.append(f'"channelId": {_jstr(v["channel"])}')
    snippet.append(f'"categoryId": {_jstr(str(v["category"]))}')
    snippet.append(f'"title": {_jstr(v["title"])}')
    if v["description"] is not None:
        snippet.append(f'"description": {_jstr(v["description"])}')
    if v["tags"] is not None:
        snippet.append('"tags": [' + ", ".join(_jstr(t) for t in v["tags"]) + "]")
    snippet.append(f'"publishedAt": "{v["day"]}T00:00:00Z"')
    stats = [f'"{k}": {_jstr(str(v[k]))}' for k in
             ("viewCount", "likeCount", "commentCount") if v[k] is not None]
    vid = "null" if v["id"] is None else _jstr(v["id"])
    return (f'{{"id": {vid}, "snippet": {{{", ".join(snippet)}}}, '
            f'"statistics": {{{", ".join(stats)}}}}}')


def _channel_json(c):
    cid = "null" if c["id"] is None else _jstr(c["id"])
    country = "null" if c["country"] is None else _jstr(c["country"])
    return (f'{{"channel_id": {cid}, "channel_title": {_jstr(c["title"])}, '
            f'"channel_country": {country}, '
            f'"subscriber_count": {c["subs"]}, "video_count": {c["videos"]}}}')


def etl_days(out_dir, seed, days, files_per_day, videos_per_file,
             channels_per_day):
    """Writes `days` days of raw files under out_dir/landing/YYYY/MM/DD/ and
    returns the workload description: per-day file lists, row counts and the
    totals the load must produce after each day."""
    rng = np.random.default_rng([seed, 2])
    start = dt.date(2024, 3, 1)
    landed_channels = []     # channel ids landed so far, in order
    seen_videos = []         # video ids written so far (re-collection pool)
    next_video = 0
    next_channel = 0
    plan = {"days": [], "input_rows": 0}
    files = {}               # file name -> list of video dicts (first write wins)
    for d in range(days):
        day = start + dt.timedelta(days=d)
        ymd, iso = day.strftime("%Y%m%d"), day.isoformat()
        rel = day.strftime("%Y/%m/%d")
        ddir = os.path.join(out_dir, "landing", rel)
        os.makedirs(ddir, exist_ok=True)
        day_files, day_rows = [], 0
        # channels: new ones plus re-collections (latest file wins), one
        # row with a null id, split over two files
        new = [f"UC{next_channel + i:06d}" for i in range(channels_per_day)]
        next_channel += channels_per_day
        again = ([landed_channels[int(i)] for i in rng.integers(
            0, len(landed_channels), max(1, channels_per_day // 4))]
            if landed_channels else [])
        recs = [{"id": c, "title": f"channel {c[-4:]}",
                 "country": COUNTRIES[int(rng.integers(0, len(COUNTRIES)))],
                 "subs": int(rng.integers(100, 5_000_000)),
                 "videos": int(rng.integers(1, 5000))} for c in new + again]
        recs.append({"id": None, "title": "no id", "country": "US",
                     "subs": 1, "videos": 1})
        half = len(recs) // 2
        for part, hh in ((recs[:half], "06"), (recs[half:], "18")):
            name = f"channels_{ymd}_{hh}0000.json"
            with open(os.path.join(ddir, name), "w") as f:
                f.write("[\n" + ",\n".join(_channel_json(c) for c in part) + "\n]")
            day_files.append(name)
            day_rows += len(part)
        landed_channels.extend(c for c in new if c not in landed_channels)
        # videos: new ids, re-collections of earlier ids with other counts,
        # exact duplicate rows, null ids, missing optional fields
        for fi in range(files_per_day):
            name = f"videos_{ymd}_{6 + 4 * fi:02d}0000.json"
            vids = []
            for _ in range(videos_per_file):
                r = rng.random()
                if r < 0.08 and seen_videos:
                    vid = seen_videos[int(rng.integers(0, len(seen_videos)))]
                elif r < 0.10:
                    vid = None
                else:
                    vid = f"vid{next_video:07d}"
                    next_video += 1
                    seen_videos.append(vid)
                if any(v["id"] == vid for v in vids if vid is not None):
                    vid = f"vid{next_video:07d}"
                    next_video += 1
                    seen_videos.append(vid)
                n_words = int(rng.integers(2, 7))
                words = [(LEXICON if rng.random() < 0.5 else FILLER)[int(i)]
                         for i in rng.integers(0, 10, n_words)]
                v = {"id": vid, "day": iso,
                     "channel": (None if rng.random() < 0.02 else
                                 landed_channels[int(rng.integers(0, len(landed_channels)))]),
                     "category": CATEGORIES[int(rng.integers(0, len(CATEGORIES)))],
                     "title": " ".join(words),
                     "description": (None if rng.random() < 0.2 else
                                     " ".join(FILLER[int(i)] for i in rng.integers(0, 10, 3))),
                     "tags": (None if rng.random() < 0.2 else
                              [LEXICON[int(i)] for i in rng.integers(0, len(LEXICON), int(rng.integers(0, 4)))]),
                     "viewCount": None if rng.random() < 0.05 else int(rng.integers(0, 2_000_000)),
                     "likeCount": int(rng.integers(0, 50_000)),
                     "commentCount": int(rng.integers(0, 5_000))}
                vids.append(v)
                if rng.random() < 0.03:
                    vids.append(dict(v))  # exact duplicate row
            with open(os.path.join(ddir, name), "w") as f:
                f.write("[\n" + ",\n".join(_video_json(v) for v in vids) + "\n]")
            files[name] = vids
            day_files.append(name)
            day_rows += len(vids)
        corrupt = f"videos_{ymd}_230000.json"
        with open(os.path.join(ddir, corrupt), "w") as f:
            f.write("{ this file is not valid json")
        day_files.append(corrupt)
        plan["days"].append({"dir": rel, "files": sorted(day_files),
                             "rows": day_rows,
                             "expected": _etl_expected(files, landed_channels)})
        plan["input_rows"] += day_rows
    return plan


def _etl_expected(files, channels):
    """The layer totals after loading every file so far: first write (by
    file name) wins per video id; the aggregate joins facts to channels."""
    facts = {}
    for name in sorted(files):
        for v in files[name]:
            if v["id"] is not None and v["id"] not in facts:
                facts[v["id"]] = v
    dim = set(channels)
    per_date = {}
    for v in facts.values():
        if v["channel"] in dim:
            t = per_date.setdefault(v["day"], [0, 0, 0, 0])
            t[0] += 1
            t[1] += v["viewCount"] or 0
            t[2] += v["likeCount"]
            t[3] += v["commentCount"]
    return {"dim_rows": len(dim), "fact_rows": len(facts),
            "per_date": {k: per_date[k] for k in sorted(per_date)}}


# ---------------------------------------------------------------- table_cdc

ZIPF = 1.5        # user skew: the hottest user has about 38% of the rows
MAX_RANK = 100_000


def _user_ids(rng):
    """A seeded map from popularity rank (1 = hottest) to user id. Ranks
    are permuted within their residue class mod 7 (id % 7 == rank % 7), so
    the seed chooses which ids are hot while every predicate on `u % 7`
    selects the same ranks, and the same amount of work, for every seed."""
    blocks = -(-MAX_RANK // 7)
    sigma = rng.permutation(blocks).astype(np.int64)
    r0 = np.arange(MAX_RANK, dtype=np.int64)          # rank - 1
    return np.concatenate([[0], 7 * sigma[r0 // 7] + r0 % 7 + 1])


def cdc_source(out_dir, seed, rows, batches, or_delete=False):
    """Writes the source table (k unique; u Zipf-skewed; batch in
    [0, batches)), an upsert batch whose keys half match existing rows, and
    the same source rows as an events table with the columns of TESTDATA's
    `events` (event_id = k, user_id = u, event_type = et, value = v / 100)
    for the operator queries. Returns the statement sequence; `or_delete`
    chooses its first DELETE (see cdc_steps)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    ids = _user_ids(rng)
    user = lambda n: ids[np.minimum(rng.zipf(ZIPF, n), MAX_RANK)]
    users = user(rows)
    k = rng.permutation(rows).astype(np.int64)
    et_i = rng.integers(0, 5, rows)
    v = rng.integers(0, 10_000, rows).astype(np.int64)
    _write(f"{out_dir}/src.parquet", {
        "k": k, "u": users, "et": [EVENT_TYPES[i] for i in et_i], "v": v,
        "batch": (np.arange(rows) % batches).astype(np.int32)})
    n_up = rows // 5
    keys = np.concatenate([rng.choice(rows, n_up // 2, replace=False),
                           rows + np.arange(n_up - n_up // 2)]).astype(np.int64)
    _write(f"{out_dir}/upd.parquet", {
        "k": keys, "u": user(n_up),
        "et": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_up)],
        "v": rng.integers(0, 10_000, n_up).astype(np.int64)})
    order = np.argsort(k)
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, rows))
    _write(f"{out_dir}/events.parquet", {
        "event_id": k[order],
        "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": users[order],
        "event_type": [EVENT_TYPES[i] for i in et_i[order]],
        "value": v[order] / 100.0,
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, rows)]})
    hot = [int(x) for x in ids[1:4]]
    return {"rows": rows, "upsert_rows": n_up, "hot_users": hot,
            "steps": cdc_steps(batches, hot, or_delete)}


READ = ("SELECT et, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv, "
        "CAST(SUM(k) AS BIGINT) AS sk, COUNT(DISTINCT u) AS nu "
        "FROM {t}{asof} GROUP BY et ORDER BY et")


def _read(name, kind="read", asof="", same_as=None):
    st = {"name": name, "kind": kind, "write": False,
          "spark": READ.format(t="{t}", asof=asof),
          "duck": None if same_as else READ.format(t="t", asof="")}
    if same_as:
        st["same_as"] = same_as
    return st


def _dml(name, kind, spark, duck=None):
    return {"name": name, "kind": kind, "write": True, "spark": spark,
            "duck": spark.replace("{t}", "t") if duck is None else duck}


def cdc_steps(batches, hot, or_delete=False):
    """The closed-loop statement sequence. `spark` runs against the graft
    catalog ({t} = the table, {root} = its directory); `duck` is the same
    step on a plain DuckDB table, None where the step changes no rows.
    `write` marks steps that commit a table version.

    The first DELETE removes the error events; with `or_delete` it also
    removes every seventh popularity rank, the hottest user among them,
    through an OR whose `u % 7` side has no data-source filter form. The
    catalog's DELETE gets that side wrong (README, "Known defect"), so that
    variant runs as its own workload, table_cdc_or_delete, outside
    BENCHMARK.json."""
    hot_in = ", ".join(str(u) for u in hot)
    steps = [{"name": "create", "kind": "create", "write": False,
              "spark": "CREATE TABLE {t} (k BIGINT, u BIGINT, et STRING, v BIGINT)",
              "duck": "CREATE TABLE t (k BIGINT, u BIGINT, et VARCHAR, v BIGINT)"}]
    for b in range(batches):
        steps.append(_dml(f"insert_{b}", "insert",
                          f"INSERT INTO {{t}} SELECT k, u, et, v FROM cdc_src WHERE batch = {b}",
                          f"INSERT INTO t SELECT k, u, et, v FROM src WHERE batch = {b}"))
    steps += [
        _read("read_loaded"),
        _dml("update", "update",
             "UPDATE {t} SET v = v + 7, et = upper(et) WHERE et = 'click'"),
        _read("read_updated"),
        _dml("merge", "merge",
             "MERGE INTO {t} AS tgt USING cdc_upd AS s ON tgt.k = s.k "
             "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
             "UPDATE t SET u = upd.u, et = upd.et, v = upd.v FROM upd "
             "WHERE t.k = upd.k; INSERT INTO t SELECT * FROM upd "
             "WHERE k NOT IN (SELECT k FROM t)"),
        _read("read_merged"),
        (_dml("delete_mod", "delete", "DELETE FROM {t} WHERE u % 7 = 1 OR et = 'error'")
         if or_delete else
         _dml("delete_error", "delete", "DELETE FROM {t} WHERE et = 'error'")),
        _read("read_deleted"),
        # the three hottest users, by id (after delete_mod only two remain)
        _dml("delete_hot", "delete", f"DELETE FROM {{t}} WHERE u IN ({hot_in})"),
        {"name": "compact", "kind": "compact", "write": True,
         "spark": "SELECT * FROM graft_compact('{root}', 2)", "duck": None},
        _read("read_final"),
        _read("read_asof_loaded", "timetravel", f" VERSION AS OF {batches}",
              same_as="read_loaded"),
    ]
    return steps
