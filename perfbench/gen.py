"""Seeded input generators for the benchmark.

Everything the program reads is made here, before any timing starts, from
one integer seed: the same seed always gives byte-identical parquet files.

* OMM: the 11 source tables of the cancellation poll (schemas as in
  ``graft.omm.OmmSchemas``) plus one version of ``deviation_cases`` /
  ``affected_departures`` per poll. Version k+1 is version k after one
  poll interval of churn: about 1% new cases, 1% of departures flipped to
  ``deleted`` and 1% of cases expiring. ``poll<k>/`` holds the 11 tables
  the k-th poll reads (hard links, so the static tables are stored once).
* Stream aging: one batch of events and one batch of documents per poll,
  with the column layout of the ``events`` / ``documents`` tables that the
  registered queries read.

Timestamps are wall-clock values of the OMM zone stored as UTC instants,
which is how the program reads them under ``spark.sql.session.timeZone=UTC``.

The size and churn of the OMM inputs (~2k cases, ~1% per poll) follow the
service's HSL sizing. Every value share below is an assumption: no source
gives the production mix of statuses, types, categories, missing texts or
replaced journeys. The shares are small and chosen so that each branch of
the reference query carries rows: the snapshot filters (F1-F6 in
FIXTURES.md), the parse checks of unknown enum values (E1) and the
priority dedup. What they make of a poll is measured by the oracle and
printed with every run (``mix``: the share of departure rows that pass the
snapshot filters, the share of those the parse checks drop, rows per row
kept by the dedup, rows sent); perfbench/README.md gives the readings.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# first simulated poll instant, wall-clock in the OMM zone (Europe/Helsinki)
T0 = "2024-05-15 12:00:00"
T0_EPOCH = int(np.datetime64(T0.replace(" ", "T"), "s").astype(np.int64))
POLL_INTERVAL_S = 30
CHURN_SHARE = 0.01

# assumed shares (see above); the last value of DC_TYPES, AD_TYPES,
# AD_STATUS and CATEGORIES is one the parse checks reject
DC_TYPES = ["CANCEL_DEPARTURE", "DEVIATION_CASES_TYPE_CANCEL_DEPARTURE",
            "DETOUR"]
DC_TYPE_P = [0.95, 0.03, 0.02]
AD_TYPES = ["CANCEL_ENTIRE_DEPARTURE", "CANCEL_STOPS_FROM_START",
            "CANCEL_STOPS_FROM_MIDDLE", "CANCEL_STOPS_FROM_END", "SKIP_STOP"]
AD_TYPE_P = [0.85, 0.05, 0.04, 0.03, 0.03]
AD_STATUS = ["active", "deleted", "ACTIVE", "bogus"]
AD_STATUS_P = [0.88, 0.09, 0.02, 0.01]
CATEGORIES = ["VEHICLE_BREAKDOWN", "TRAFFIC_ACCIDENT", "ROAD_MAINTENANCE",
              "WEATHER", "STRIKE", "STAFF_DEFICIT", "OTHER_OPERATOR_REASON",
              "NO_TRAFFIC_DISRUPTION", "MEDICAL_INCIDENT"]
CATEGORY_P = [0.2, 0.15, 0.1, 0.1, 0.05, 0.2, 0.1, 0.08, 0.02]
SUB_CATEGORIES = ["BREAK_MALFUNCTION", "OUT_OF_FUEL", "ASSAULT", "ROAD_CLOSED",
                  "ROAD_TRENCH", "SLIPPERINESS", "STAFF_SHORTAGE", "OTHER"]

TS = pa.timestamp("us", tz="UTC")


def _ts(epoch_s):
    """Epoch seconds (float array, NaN = NULL) -> UTC timestamp array."""
    a = np.asarray(epoch_s, dtype=np.float64)
    us = np.where(np.isnan(a), 0, a * 1e6).astype(np.int64)
    return pa.array(us, type=pa.int64(), mask=np.isnan(a)).cast(TS)


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _pick(rng, values, p, n):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def now_epoch(poll):
    """Simulated wall-clock `now` of the poll, epoch seconds."""
    return T0_EPOCH + POLL_INTERVAL_S * poll


class OmmCases:
    """Mutable deviation_cases / affected_departures state, one row per
    case plus a second departure row for a tenth of the cases."""

    def __init__(self, rng, n_cases, n_departures, n_bulletins):
        self.rng = rng
        self.n_departures = n_departures
        self.n_bulletins = n_bulletins
        self.dc = None
        self.ad = None
        self._add(n_cases, T0_EPOCH, fresh=False)

    @staticmethod
    def _cat(old, new):
        if old is None:
            return new
        return {k: np.concatenate([old[k], new[k]]) for k in old}

    def _add(self, n, now, fresh):
        rng = self.rng
        start = 0 if self.dc is None else len(self.dc["id"])
        ids = np.arange(start + 1, start + n + 1, dtype=np.int64)
        bulletin = ids.astype(np.float64)
        bulletin[rng.random(n) < 0.03] = np.nan  # no bulletin: F1 drops it
        if fresh:
            vfrom = np.full(n, now - 60.0)
            vto = now + rng.uniform(3600, 2 * 86400, n)
            lm = np.full(n, float(now))
        else:
            vfrom = now - rng.uniform(0, 2 * 86400, n)
            kind = rng.random(n)
            vto = np.where(kind < 0.85, now + rng.uniform(3600, 3 * 86400, n),
                           now - rng.uniform(60, 86400, n))
            vto[kind >= 0.95] = np.nan  # open-ended: the deleted-today clause
            lm = now - rng.uniform(120, 5 * 86400, n)
        self.dc = self._cat(self.dc, {
            "id": ids, "bulletin": bulletin, "vfrom": vfrom, "vto": vto,
            "type": _pick(rng, DC_TYPES, DC_TYPE_P, n), "lm": lm})
        # one departure per case, a second one for ~10% of the cases
        second = ids[rng.random(n) < 0.10]
        cases = np.concatenate([ids, second])
        m = len(cases)
        ad_lm = lm[cases - ids[0]] + rng.uniform(0, 60, m)
        ad_lm[rng.random(m) < 0.005] = np.nan  # F9: no event time
        self.ad = self._cat(self.ad, {
            "case": cases, "dep": rng.integers(1, self.n_departures + 1, m),
            "status": _pick(rng, AD_STATUS, AD_STATUS_P, m),
            "type": _pick(rng, AD_TYPES, AD_TYPE_P, m), "lm": ad_lm})

    def churn(self, poll):
        """One poll interval of changes, stamped with the poll's `now`."""
        rng, now = self.rng, float(now_epoch(poll))
        n = len(self.dc["id"])
        k = max(1, int(round(CHURN_SHARE * n)))
        if n + k <= self.n_bulletins:
            self._add(k, now, fresh=True)
        ad, dc = self.ad, self.dc
        cand = rng.choice(len(ad["case"]), 4 * k, replace=False)
        flip = cand[ad["status"][cand] != "deleted"][:k]
        ad["status"][flip] = "deleted"  # cancellation withdrawn
        ad["lm"][flip] = now
        dc["lm"][ad["case"][flip] - 1] = now
        cand = rng.choice(n, 4 * k, replace=False)
        vto = dc["vto"][cand]
        close = cand[~np.isnan(vto) & (vto > now)][:k]
        dc["vto"][close] = now - 1.0  # case closed: valid_to moves into the past
        dc["lm"][close] = now - 1.0

    def tables(self):
        dc, ad = self.dc, self.ad
        bull = dc["bulletin"]
        dc_t = pa.table({
            "deviation_case_id": pa.array(dc["id"], pa.int64()),
            "bulletin_id": pa.array(np.nan_to_num(bull).astype(np.int64),
                                    pa.int64(), mask=np.isnan(bull)),
            "valid_from": _ts(dc["vfrom"]),
            "valid_to": _ts(dc["vto"]),
            "type": pa.array(dc["type"], pa.string()),
            "last_modified": _ts(dc["lm"]),
        })
        ad_t = pa.table({
            "deviation_case_id": pa.array(ad["case"], pa.int64()),
            "departure_id": pa.array(ad["dep"], pa.int64()),
            "status": pa.array(ad["status"], pa.string()),
            "type": pa.array(ad["type"], pa.string()),
            "last_modified": _ts(ad["lm"]),
        })
        return dc_t, ad_t


def _static_omm(rng, n_departures, n_bulletins):
    """The nine tables that do not change between polls."""
    n_vj = max(1, n_departures // 3)
    day0 = np.datetime64("2024-05-15", "D")
    dvj_ids = np.arange(1, n_departures + 1, dtype=np.int64)
    replaced = np.where(rng.random(n_departures) < 0.02,
                        dvj_ids + 10_000_000, -1)
    vj_ids = np.arange(1, n_vj + 1, dtype=np.int64)
    line = rng.integers(1000, 9999, n_vj)
    direction = rng.integers(1, 3, n_vj)
    gid = np.array([f"9011{l:07d}{d}00{v % 1000:04d}"
                    for l, d, v in zip(line, direction, vj_ids)], dtype=object)
    gid[rng.random(n_vj) < 0.03] = None  # F5: no direction-of-line gid
    kvv_obj = np.repeat(vj_ids, 3)
    kvv_kvt = np.tile(np.array([10, 11, 13], dtype=np.int64), n_vj)
    kvv_kvt[1::3] = rng.choice([11, 12], n_vj)
    route = np.array([f"{l}{s}" for l, s in
                      zip(np.repeat(line, 3), rng.choice(["", "K", "N", "B"], 3 * n_vj))],
                     dtype=object)
    b_ids = np.arange(1, n_bulletins + 1, dtype=np.int64)
    langs = ["fi", "sv", "en"]
    blm_b = np.repeat(b_ids, 3)
    blm_lang = np.tile(np.array(langs, dtype=object), n_bulletins)
    blm_lang[0::3][rng.random(n_bulletins) < 0.04] = "se"  # no Finnish text
    words = np.array(["bussi", "linja", "peruttu", "vuoro", "lähtö", "syy",
                      "liikenne", "häiriö", "tie", "asema"], dtype=object)
    title = np.array([" ".join(w) for w in
                      words[rng.integers(0, len(words), (3 * n_bulletins, 3))]],
                     dtype=object)
    desc = np.array([f"{t} {i}" for i, t in enumerate(title)], dtype=object)
    opday = day0 + rng.integers(-1, 2, n_departures).astype("timedelta64[D]")
    start_min = rng.integers(4 * 60, 26 * 60, n_departures)
    base_1900 = -2208988800  # 1900-01-01 00:00:00 UTC
    return {
        "ObjectType": pa.table({
            "Number": pa.array([1, 2, 3], pa.int32()),
            "Name": ["VehicleJourney", "StopPoint", "Line"]}),
        "KeyType": pa.table({
            "Id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "ExtendsObjectTypeNumber": pa.array([1, 1, 1, 1, 2], pa.int32()),
            "Name": ["JoreIdentity", "JoreRouteIdentity", "RouteName",
                     "Comment", "JoreIdentity"]}),
        "KeyVariantType": pa.table({
            "Id": pa.array([10, 11, 12, 13, 14], pa.int64()),
            "IsForKeyTypeId": pa.array([1, 2, 3, 4, 5], pa.int64())}),
        "VehicleJourney": pa.table({"Id": pa.array(vj_ids, pa.int64())}),
        "VehicleJourneyTemplate": pa.table({
            "Id": pa.array(vj_ids, pa.int64()),
            "IsWorkedOnDirectionOfLineGid": pa.array(list(gid), pa.string())}),
        "KeyVariantValue": pa.table({
            "IsForObjectId": pa.array(kvv_obj, pa.int64()),
            "IsOfKeyVariantTypeId": pa.array(kvv_kvt, pa.int64()),
            "StringValue": pa.array(list(route), pa.string())}),
        "DatedVehicleJourney": pa.table({
            "Id": pa.array(dvj_ids, pa.int64()),
            "OperatingDayDate": pa.array(opday, pa.date32()),
            "IsBasedOnVehicleJourneyId": pa.array(
                rng.integers(1, n_vj + 1, n_departures), pa.int64()),
            "IsBasedOnVehicleJourneyTemplateId": pa.array(
                rng.integers(1, n_vj + 1, n_departures), pa.int64()),
            "IsReplacedById": pa.array(np.maximum(replaced, 0), pa.int64(),
                                       mask=replaced < 0),
            "PlannedStartOffsetDateTime": _ts(base_1900 + 60.0 * start_min)}),
        "bulletins": pa.table({
            "bulletins_id": pa.array(b_ids, pa.int64()),
            "category": pa.array(list(_pick(rng, CATEGORIES, CATEGORY_P,
                                            n_bulletins)), pa.string()),
            "sub_category": pa.array(list(_pick(
                rng, SUB_CATEGORIES, None, n_bulletins)), pa.string())}),
        "bulletin_localized_messages": pa.table({
            "bulletins_id": pa.array(blm_b, pa.int64()),
            "language_code": pa.array(list(blm_lang), pa.string()),
            "title": pa.array(list(title), pa.string()),
            "description": pa.array(list(desc), pa.string())}),
    }


def gen_omm(root, seed, n_cases, n_polls):
    """Write the OMM inputs for `n_polls` polls under `root`; returns the
    list of per-poll table directories."""
    rng = np.random.default_rng([seed, n_cases, 1])
    n_departures = max(1, int(n_cases * 0.8))
    n_new = max(1, int(round(CHURN_SHARE * n_cases)))
    n_bulletins = n_cases + 2 * n_new * n_polls
    static = _static_omm(rng, n_departures, n_bulletins)
    for name, t in static.items():
        _write(t, f"{root}/static/{name}.parquet")
    cases = OmmCases(rng, n_cases, n_departures, n_bulletins)
    dirs = []
    for k in range(n_polls):
        if k > 0:
            cases.churn(k)
        d = f"{root}/poll{k}"
        dc_t, ad_t = cases.tables()
        _write(dc_t, f"{d}/deviation_cases.parquet")
        _write(ad_t, f"{d}/affected_departures.parquet")
        for name in static:
            os.link(f"{root}/static/{name}.parquet", f"{d}/{name}.parquet")
        dirs.append(d)
    return dirs


EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
EVENT_TYPE_P = [0.55, 0.25, 0.08, 0.07, 0.05]
BATCH_SPAN_S = 6 * 3600  # simulated event time covered by one poll's batch


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnoprstuvy"))
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters, rng.integers(2, 9))))
    return np.array(sorted(out), dtype=object)


def gen_stream(root, seed, n_polls, events_per_batch, docs_per_batch,
               n_users=20_000, vocab_size=400):
    """Write one events batch and one documents batch per poll under
    ``root/batch<k>/`` (table files ``events.parquet`` and
    ``documents.parquet``); returns the batch directories."""
    rng = np.random.default_rng([seed, events_per_batch, 2])
    vocab = _vocab(rng, vocab_size)
    zipf = 1.0 / np.arange(1, vocab_size + 1) ** 1.1
    zipf /= zipf.sum()
    day0 = int(np.datetime64("2024-01-01T00:00:00", "s").astype(np.int64))
    dirs = []
    for k in range(n_polls):
        n = events_per_batch
        ts = day0 + k * BATCH_SPAN_S + rng.uniform(0, BATCH_SPAN_S, n)
        users = (rng.random(n) ** 2 * n_users).astype(np.int64)
        null_user = rng.random(n) < 0.005
        events = pa.table({
            "event_id": pa.array(np.arange(k * n, (k + 1) * n), pa.int64()),
            "ts": _ts(np.sort(ts)),
            "user_id": pa.array(users, pa.int64(), mask=null_user),
            "event_type": pa.array(list(_pick(rng, EVENT_TYPES, EVENT_TYPE_P, n)),
                                   pa.string()),
            "value": pa.array(np.round(rng.gamma(2.0, 30.0, n), 2), pa.float64()),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n)],
                              pa.string()),
        })
        m = docs_per_batch
        lengths = rng.integers(8, 41, m)
        toks = vocab[rng.choice(vocab_size, lengths.sum(), p=zipf)]
        cuts = np.cumsum(lengths)[:-1]
        texts = [" ".join(t) for t in np.split(toks, cuts)]
        docs = pa.table({
            "doc_id": pa.array(np.arange(k * m, (k + 1) * m), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * m, pa.string()),
            "source": pa.array(list(_pick(rng, ["web", "books", "code"], None, m)),
                               pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
        d = f"{root}/batch{k}"
        _write(events, f"{d}/events.parquet")
        _write(docs, f"{d}/documents.parquet")
        dirs.append(d)
    return dirs
