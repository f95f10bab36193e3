"""Output checks: the program's outputs against DuckDB.

OMM polls: the benchmark's own DuckDB transcription of the reference
snapshot SQL (cancellations_past_current_future.sql, PAST mode), the parse
checks and the priority dedup, evaluated over the exact tables a poll read,
is compared with the rows that poll appended to the sink. The sink is
checked by its (key, deviation case, status, event time, route) rows and
row count; the poll's reported new/repeated trip counts are checked
against the difference of consecutive oracle key sets.

Stream aging: the stream reads at the end of the run are compared with the
registered queries' DuckDB oracle SQL (``graft.SparkEntry.oracleSql``)
over every batch ingested.
"""
from collections import Counter
from statistics import median

import duckdb

DC_TYPES = ["CANCEL_DEPARTURE", "DEVIATION_CASES_TYPE_CANCEL_DEPARTURE"]
AD_TYPES = ["CANCEL_ENTIRE_DEPARTURE", "CANCEL_STOPS_FROM_START",
            "CANCEL_STOPS_FROM_MIDDLE", "CANCEL_STOPS_FROM_END"]
CATEGORIES = ["VEHICLE_BREAKDOWN", "TRAFFIC_ACCIDENT", "ROAD_MAINTENANCE",
              "WEATHER", "STRIKE", "STAFF_DEFICIT", "OTHER_OPERATOR_REASON",
              "NO_TRAFFIC_DISRUPTION"]
SUB_CATEGORIES = ["BREAK_MALFUNCTION", "OUT_OF_FUEL", "ASSAULT", "ROAD_CLOSED",
                  "ROAD_TRENCH", "SLIPPERINESS", "STAFF_SHORTAGE", "OTHER"]
AD_STATUSES = ["active", "deleted"]


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


def _in(vs):
    return "(" + ", ".join(f"'{v}'" for v in vs) + ")"


def _omm_ctes(tables, now, today, lookback, zone):
    """The PAST-mode poll as three CTEs: `snap` (the reference snapshot
    joins and filters), `parsed` (the rows that pass the parse checks) and
    `sent` (the priority dedup per trip and case)."""
    def t(name):
        return f"read_parquet('{tables}/{name}.parquet')"
    current = f"""(DC.valid_to::TIMESTAMP > TIMESTAMP '{now}'
        OR (DC.valid_to IS NULL AND AD.status = 'deleted'
            AND DVJ.OperatingDayDate >= DATE '{today}'))"""
    past = f"""((DC.valid_to::TIMESTAMP <= TIMESTAMP '{now}'
          OR (DC.valid_to IS NULL AND AD.status = 'deleted'
              AND DVJ.OperatingDayDate < DATE '{today}'))
         AND DC.last_modified::TIMESTAMP >= TIMESTAMP '{lookback}')"""
    return f"""
WITH snap AS (
  SELECT CAST(DVJ.Id AS VARCHAR) AS trip_id, DC.deviation_case_id,
    CASE WHEN lower(AD.status) = 'deleted' THEN 'RUNNING' ELSE 'CANCELED' END
      AS status,
    epoch_ms(timezone('{zone}', AD.last_modified::TIMESTAMP)) AS event_ts_ms,
    KVV.StringValue AS route_name, BLM.title AS title,
    DC.type AS dc_type, AD.type AS ad_type, AD.status AS ad_status,
    B.category, B.sub_category
  FROM {t("deviation_cases")} DC
  LEFT JOIN {t("affected_departures")} AD
    ON DC.deviation_case_id = AD.deviation_case_id
  LEFT JOIN {t("bulletin_localized_messages")} BLM
    ON DC.bulletin_id = BLM.bulletins_id
  LEFT JOIN {t("bulletins")} B ON DC.bulletin_id = B.bulletins_id
  JOIN {t("DatedVehicleJourney")} DVJ ON DVJ.Id = AD.departure_id
  JOIN {t("VehicleJourney")} VJ ON VJ.Id = DVJ.IsBasedOnVehicleJourneyId
  JOIN {t("VehicleJourneyTemplate")} VJT
    ON VJT.Id = DVJ.IsBasedOnVehicleJourneyTemplateId
  JOIN {t("KeyVariantValue")} KVV ON KVV.IsForObjectId = VJ.Id
  JOIN {t("KeyVariantType")} KVT ON KVT.Id = KVV.IsOfKeyVariantTypeId
  JOIN {t("KeyType")} KT ON KT.Id = KVT.IsForKeyTypeId
  JOIN {t("ObjectType")} OT ON OT.Number = KT.ExtendsObjectTypeNumber
  WHERE BLM.language_code = 'fi'
    AND ({current} OR {past})
    AND KT.Name IN ('JoreIdentity', 'JoreRouteIdentity', 'RouteName')
    AND OT.Name = 'VehicleJourney'
    AND VJT.IsWorkedOnDirectionOfLineGid IS NOT NULL
    AND DVJ.IsReplacedById IS NULL),
parsed AS (
  SELECT * FROM snap
  WHERE dc_type IN {_in(DC_TYPES)}
    AND ad_type IN {_in(AD_TYPES)}
    AND category IN {_in(CATEGORIES)}
    AND sub_category IN {_in(SUB_CATEGORIES)}
    AND (ad_status IS NULL OR lower(ad_status) IN {_in(AD_STATUSES)})
    AND event_ts_ms IS NOT NULL),
sent AS (
  SELECT trip_id, deviation_case_id, status, event_ts_ms, route_name
  FROM (SELECT *, row_number() OVER (
          PARTITION BY trip_id, deviation_case_id
          ORDER BY CASE WHEN status = 'CANCELED' THEN 0 ELSE 1 END,
                   event_ts_ms DESC, route_name, title) AS rn
        FROM parsed) WHERE rn = 1)
"""


def omm_expected_sql(tables, now, today, lookback, zone):
    """Rows one PAST-mode poll must send: snapshot, parse, dedup."""
    return _omm_ctes(tables, now, today, lookback, zone) + "SELECT * FROM sent"


def omm_mix(units, zone, con=None):
    """What the generated input mix makes of a run's polls, from the
    oracle, as medians over polls: the share of departure rows that pass
    the snapshot filters, the share of those the parse checks drop, rows
    per row kept by the (trip, case) dedup, rows sent, and cases."""
    con = con or connect()
    polls = []
    for u in units:
        count = f"SELECT count(*) FROM read_parquet('{u['tables']}/{{}}.parquet')"
        cases, deps, snap, parsed, sent = con.execute(_omm_ctes(
            u["tables"], u["now"], u["today"], u["lookback"], zone) + f"""
SELECT ({count.format("deviation_cases")}), ({count.format("affected_departures")}),
       (SELECT count(*) FROM snap), (SELECT count(*) FROM parsed),
       (SELECT count(*) FROM sent)""").fetchone()
        polls.append({"snapshot_share": snap / deps,
                      "parse_drop_share": (snap - parsed) / snap,
                      "dedup_ratio": parsed / sent, "sent": sent, "cases": cases})
    return {k: median(p[k] for p in polls) for k in polls[0]}


def sink_rows_sql(sink, now):
    return f"""SELECT key, payload.deviation_case_id, payload.status,
                      event_time_ms, payload.route_id
               FROM read_parquet('{sink}/*.parquet')
               WHERE poll_time = '{now}'"""


def check_omm(units, sink, zone, con=None):
    """Check every poll of a run; returns (poll, description) for every
    mismatch (empty when all outputs are correct)."""
    con = con or connect()
    errors, prev_keys = [], None
    for u in units:
        want = con.execute(omm_expected_sql(
            u["tables"], u["now"], u["today"], u["lookback"], zone)).fetchall()
        got = con.execute(sink_rows_sql(sink, u["now"])).fetchall()
        errors += [(u["i"], e) for e in compare_rows(f"poll {u['i']} sink", got, want)]
        if u["sent"] != len(want):
            errors.append((u["i"], f"poll {u['i']}: sent {u['sent']}, "
                                   f"expected {len(want)}"))
        keys = {r[0] for r in want}
        new = len(keys) if prev_keys is None else len(keys - prev_keys)
        rep = 0 if prev_keys is None else len(keys & prev_keys)
        if (u["new"], u["repeated"]) != (new, rep):
            errors.append((u["i"], f"poll {u['i']}: new/repeated "
                                   f"{u['new']}/{u['repeated']}, expected {new}/{rep}"))
        prev_keys = keys
    return errors


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def compare_rows(what, got, want):
    """Multiset comparison of two row lists; floats compared to 6 places."""
    g = Counter(tuple(_norm(x) for x in r) for r in got)
    w = Counter(tuple(_norm(x) for x in r) for r in want)
    if g == w:
        return []
    missing, extra = sum((w - g).values()), sum((g - w).values())
    return [f"{what}: {len(got)} rows, expected {len(want)} "
            f"({missing} expected rows missing, {extra} unexpected)"]


def check_stream(check, con=None):
    """The stream reads written by the harness against the registered
    queries' oracle SQL over the ingested batches; returns (query,
    description) for every mismatch."""
    con = con or connect()
    errors = []
    for t in ("events", "documents"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{check['data']}/{t}.parquet/*.parquet')")
    for name, sql in check["oracle_sql"].items():
        want = con.execute(sql).fetchall()
        cols = [d[0] for d in con.description]
        got = con.execute(f"SELECT {', '.join(cols)} FROM read_parquet("
                          f"'{check['reads']}/{name}/*.parquet')").fetchall()
        errors += [(name, e) for e in compare_rows(f"{name} stream read", got, want)]
        if not check["same_as_registered"][name]:
            errors.append((name, f"{name}: stream read differs from the registered query"))
    return errors
