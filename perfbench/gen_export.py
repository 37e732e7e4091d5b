"""Seeded generator of a realistic Apple Health ``export.zip``.

Shape (the layout the CLI reads, see FIXTURES.md §A):

- 40 ``Record`` types with Zipf-skewed counts: numeric quantity types
  (integer- and real-valued) and text-valued category types;
- ``MetadataEntry`` children on a share of the records;
- ``Workout`` elements with ``WorkoutEvent`` / ``WorkoutStatistics``
  children, most of them with a GPX route file inside the zip;
- one ``ActivitySummary`` row per day the export spans;
- the ignored header elements (``ExportDate``, ``Me``).

The density is fixed and the span follows from the record count: the
repository's measured large case is 200k records (44 MB of XML) for
one year of data, so a day holds ``RECORDS_PER_DAY`` records, and an
export of ``n_records`` spans ``n_records / RECORDS_PER_DAY`` days,
with one activity summary per day and ``WORKOUTS_PER_DAY`` workouts
per day (60 a year, an assumed rate).  A smaller export is a shorter
period of the same device log, not a thinner one.  This generator
writes about 300 bytes of XML per record, against 220 in the measured
case.

Alongside the zip the generator returns what a correct conversion must
produce: the row count of every table and an order-independent checksum
over the values (see :func:`norm` and :func:`checksum_lines`).  The
checker in ``check_db.py`` recomputes the same checksum from the SQLite
file, so a conversion is checked against the generated data, never
against an earlier run.
"""

from __future__ import annotations

import datetime as dt
import random
import zipfile
import zlib

#: (type identifier, unit, value kind) — kind is "int", "real" or "cat".
RECORD_TYPES: tuple[tuple[str, str, str], ...] = (
    ("HKQuantityTypeIdentifierHeartRate", "count/min", "real"),
    ("HKQuantityTypeIdentifierActiveEnergyBurned", "Cal", "real"),
    ("HKQuantityTypeIdentifierBasalEnergyBurned", "Cal", "real"),
    ("HKQuantityTypeIdentifierStepCount", "count", "int"),
    ("HKQuantityTypeIdentifierDistanceWalkingRunning", "mi", "real"),
    ("HKQuantityTypeIdentifierAppleExerciseTime", "min", "int"),
    ("HKCategoryTypeIdentifierAppleStandHour", "", "cat"),
    ("HKQuantityTypeIdentifierAppleStandTime", "min", "int"),
    ("HKQuantityTypeIdentifierWalkingSpeed", "mi/hr", "real"),
    ("HKQuantityTypeIdentifierWalkingStepLength", "in", "real"),
    ("HKQuantityTypeIdentifierFlightsClimbed", "count", "int"),
    ("HKCategoryTypeIdentifierSleepAnalysis", "", "cat"),
    ("HKQuantityTypeIdentifierRespiratoryRate", "count/min", "real"),
    ("HKQuantityTypeIdentifierHeartRateVariabilitySDNN", "ms", "real"),
    ("HKQuantityTypeIdentifierWalkingDoubleSupportPercentage", "%", "real"),
    ("HKQuantityTypeIdentifierWalkingAsymmetryPercentage", "%", "real"),
    ("HKQuantityTypeIdentifierEnvironmentalAudioExposure", "dBASPL", "real"),
    ("HKQuantityTypeIdentifierHeadphoneAudioExposure", "dBASPL", "real"),
    ("HKQuantityTypeIdentifierOxygenSaturation", "%", "real"),
    ("HKQuantityTypeIdentifierRestingHeartRate", "count/min", "int"),
    ("HKQuantityTypeIdentifierWalkingHeartRateAverage", "count/min", "int"),
    ("HKQuantityTypeIdentifierDistanceCycling", "mi", "real"),
    ("HKQuantityTypeIdentifierStairAscentSpeed", "ft/s", "real"),
    ("HKQuantityTypeIdentifierStairDescentSpeed", "ft/s", "real"),
    ("HKQuantityTypeIdentifierSixMinuteWalkTestDistance", "m", "real"),
    ("HKQuantityTypeIdentifierVO2Max", "mL/min·kg", "real"),
    ("HKCategoryTypeIdentifierMindfulSession", "", "cat"),
    ("HKQuantityTypeIdentifierBodyMass", "lb", "real"),
    ("HKQuantityTypeIdentifierHeight", "ft", "real"),
    ("HKQuantityTypeIdentifierBodyMassIndex", "count", "real"),
    ("HKQuantityTypeIdentifierDietaryWater", "mL", "int"),
    ("HKQuantityTypeIdentifierDietaryCaffeine", "mg", "int"),
    ("HKCategoryTypeIdentifierHandwashingEvent", "", "cat"),
    ("HKCategoryTypeIdentifierHighHeartRateEvent", "", "cat"),
    ("HKQuantityTypeIdentifierAppleWalkingSteadiness", "%", "real"),
    ("HKQuantityTypeIdentifierRunningSpeed", "mi/hr", "real"),
    ("HKQuantityTypeIdentifierRunningPower", "W", "int"),
    ("HKQuantityTypeIdentifierNumberOfTimesFallen", "count", "int"),
    ("HKCategoryTypeIdentifierToothbrushingEvent", "", "cat"),
    ("HKQuantityTypeIdentifierBloodPressureSystolic", "mmHg", "int"),
)

CATEGORY_VALUES = {
    "HKCategoryTypeIdentifierAppleStandHour": (
        "HKCategoryValueAppleStandHourStood",
        "HKCategoryValueAppleStandHourIdle"),
    "HKCategoryTypeIdentifierSleepAnalysis": (
        "HKCategoryValueSleepAnalysisInBed",
        "HKCategoryValueSleepAnalysisAsleepCore",
        "HKCategoryValueSleepAnalysisAsleepDeep",
        "HKCategoryValueSleepAnalysisAsleepREM",
        "HKCategoryValueSleepAnalysisAwake"),
}

#: MetadataEntry keys and value makers (text, integer and real values).
METADATA = (
    ("HKMetadataKeyHeartRateMotionContext", lambda r: str(r.randint(0, 2))),
    ("HKWasUserEntered", lambda r: str(r.randint(0, 1))),
    ("HKTimeZone", lambda r: r.choice(("America/Los_Angeles",
                                       "Europe/Berlin", "Asia/Tokyo"))),
    ("HKMetadataKeySyncVersion", lambda r: str(r.randint(1, 3))),
    ("HKMetadataKeySyncIdentifier", lambda r: f"{r.getrandbits(64):016x}"),
    ("HKAverageMETs", lambda r: f"{r.uniform(1, 12):.5f} kcal/hr·kg"),
    ("HKWeatherTemperature", lambda r: f"{r.uniform(40, 95):.1f}"),
)

WORKOUT_TYPES = ("HKWorkoutActivityTypeRunning", "HKWorkoutActivityTypeWalking",
                 "HKWorkoutActivityTypeCycling", "HKWorkoutActivityTypeYoga",
                 "HKWorkoutActivityTypeTraditionalStrengthTraining")
STAT_TYPES = ("HKQuantityTypeIdentifierHeartRate",
              "HKQuantityTypeIdentifierActiveEnergyBurned",
              "HKQuantityTypeIdentifierDistanceWalkingRunning",
              "HKQuantityTypeIdentifierBasalEnergyBurned")

YEAR_START = dt.datetime(2022, 1, 1)
TZ = " -0800"
RECORDS_PER_DAY = 200000 / 365
WORKOUTS_PER_DAY = 60 / 365


def norm(v) -> str:
    """Canonical text of one value for the checksum: numbers compare as
    floats rounded to 6 places (an INTEGER, REAL or numeric string all
    normalize alike), everything else as its string."""
    if v is None:
        return "NULL"
    try:
        return repr(round(float(v), 6))
    except (TypeError, ValueError):
        return str(v)


def checksum_lines(lines) -> str:
    """Order-independent checksum: sum of crc32 over the lines, mod 2**64."""
    total = 0
    for line in lines:
        total += zlib.crc32(line.encode())
    return f"{total % (1 << 64):016x}"


def _stamp(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S") + TZ


def _esc(s: str) -> str:
    return (s.replace("&", "&amp;").replace('"', "&quot;")
            .replace("<", "&lt;").replace(">", "&gt;"))


def _value(r: random.Random, type_id: str, kind: str) -> str:
    if kind == "cat":
        return r.choice(CATEGORY_VALUES.get(type_id,
                                            ("HKCategoryValueNotApplicable",)))
    if kind == "int":
        return str(r.randint(1, 400))
    return f"{r.uniform(0.1, 180.0):.5f}"


def _gpx(r: random.Random, start: dt.datetime, n: int) -> str:
    lat, lon = 34.0 + r.uniform(-0.5, 0.5), -118.4 + r.uniform(-0.5, 0.5)
    pts = []
    for i in range(n):
        lat += r.uniform(-2e-5, 4e-5)
        lon += r.uniform(-2e-5, 4e-5)
        t = (start + dt.timedelta(seconds=i)).strftime("%Y-%m-%dT%H:%M:%SZ")
        pts.append(f'<trkpt lon="{lon:.6f}" lat="{lat:.6f}"><ele>{r.uniform(5, 60):.2f}'
                   f'</ele><time>{t}</time></trkpt>')
    return ('<?xml version="1.0" encoding="UTF-8"?>\n'
            '<gpx version="1.1" creator="Apple Health Export"><trk><trkseg>'
            + "".join(pts) + "</trkseg></trk></gpx>\n")


def build_export(path: str, seed: int, n_records: int,
                 metadata_share: float = 0.15) -> dict:
    """Write ``export.zip`` at ``path``; return the expected outcome:
    ``{"tables": {name: rows}, "checksum": str, "xml_bytes": int,
    "records": int, "days": int}``."""
    r = random.Random(seed)
    days = max(1, round(n_records / RECORDS_PER_DAY))
    n_workouts = max(1, round(days * WORKOUTS_PER_DAY))
    weights = [1.0 / (i + 1) ** 1.1 for i in range(len(RECORD_TYPES))]
    counts = {t[0]: 1 for t in RECORD_TYPES}  # every type appears
    for i in r.choices(range(len(RECORD_TYPES)), weights,
                       k=n_records - len(RECORD_TYPES)):
        counts[RECORD_TYPES[i][0]] += 1
    # interleave the types in time order, as a device log would
    order = [t for t in RECORD_TYPES for _ in range(counts[t[0]])]
    r.shuffle(order)
    lines = []
    parts = ['<?xml version="1.0" encoding="UTF-8"?>\n<HealthData locale="en_US">\n',
             f' <ExportDate value="{_stamp(YEAR_START.replace(year=2023))}"/>\n',
             ' <Me HKCharacteristicTypeIdentifierBiologicalSex="HKBiologicalSexNotSet"'
             ' HKCharacteristicTypeIdentifierBloodType="HKBloodTypeNotSet"/>\n']
    step = days * 86400 / max(1, len(order))
    device = _esc("<<HKDevice: 0x2834>, name:Apple Watch, model:Watch, "
                  "hardware:Watch6,1, software:9.1>")
    for i, (type_id, unit, kind) in enumerate(order):
        start = YEAR_START + dt.timedelta(seconds=int(i * step))
        end = start + dt.timedelta(seconds=r.randint(0, 600))
        value = _value(r, type_id, kind)
        unit_attr = f' unit="{_esc(unit)}"' if unit else ""
        dev = f' device="{device}"' if i % 3 == 0 else ""
        el = (f' <Record type="{type_id}" sourceName="Watch" sourceVersion="9.1"'
              f'{dev}{unit_attr} creationDate="{_stamp(end)}" '
              f'startDate="{_stamp(start)}" endDate="{_stamp(end)}" value="{value}"')
        lines.append(f"{type_id}|value|{norm(value)}")
        if r.random() < metadata_share:
            md = r.sample(METADATA, r.randint(1, 3))
            children = []
            for key, make in md:
                v = make(r)
                children.append(f'  <MetadataEntry key="{key}" value="{_esc(v)}"/>')
                lines.append(f"{type_id}|md|{key}|{norm(v)}")
            parts.append(el + ">\n" + "\n".join(children) + "\n </Record>\n")
        else:
            parts.append(el + "/>\n")

    routes: dict[str, str] = {}
    for w in range(n_workouts):
        start = YEAR_START + dt.timedelta(days=w * days // n_workouts, hours=7,
                                          minutes=r.randint(0, 59))
        minutes = r.uniform(15, 75)
        end = start + dt.timedelta(minutes=minutes)
        wtype = r.choice(WORKOUT_TYPES)
        events = []
        for e in range(r.randint(2, 6)):
            et = start + dt.timedelta(minutes=minutes * e / 6)
            if e % 2 == 0:
                events.append(f'<WorkoutEvent type="HKWorkoutEventTypeSegment" '
                              f'date="{_stamp(et)}" duration="{r.uniform(1, 10):.3f}" '
                              f'durationUnit="min"/>')
            else:
                events.append(f'<WorkoutEvent type="HKWorkoutEventTypePause" '
                              f'date="{_stamp(et)}"/>')
        stats = []
        for st in r.sample(STAT_TYPES, r.randint(2, 4)):
            agg = (f'average="{r.uniform(90, 170):.2f}" minimum="80" maximum="180"'
                   if st.endswith("HeartRate") else f'sum="{r.uniform(1, 600):.3f}"')
            stats.append(f'<WorkoutStatistics type="{st}" startDate="{_stamp(start)}" '
                         f'endDate="{_stamp(end)}" {agg} unit="u"/>')
        md = [f'<MetadataEntry key="HKIndoorWorkout" value="{w % 2}"/>',
              f'<MetadataEntry key="HKTimeZone" value="America/Los_Angeles"/>']
        n_pts = 0
        route = ""
        if wtype != "HKWorkoutActivityTypeYoga" and w % 5 != 0:
            n_pts = r.randint(150, 450)
            rel = f"/workout-routes/route_{start:%Y-%m-%d_%H.%M}_{w}.gpx"
            routes[rel] = _gpx(r, start, n_pts)
            route = (f'<WorkoutRoute sourceName="Watch" sourceVersion="9.1" '
                     f'creationDate="{_stamp(end)}" startDate="{_stamp(start)}" '
                     f'endDate="{_stamp(end)}"><FileReference path="{rel}"/>'
                     "</WorkoutRoute>")
        parts.append(
            f' <Workout workoutActivityType="{wtype}" duration="{minutes:.4f}" '
            f'durationUnit="min" totalDistance="{r.uniform(0.5, 12):.4f}" '
            f'totalDistanceUnit="mi" totalEnergyBurned="{r.uniform(50, 900):.3f}" '
            f'totalEnergyBurnedUnit="Cal" sourceName="Watch" sourceVersion="9.1" '
            f'creationDate="{_stamp(end)}" startDate="{_stamp(start)}" '
            f'endDate="{_stamp(end)}">' + "".join(md) + "".join(events)
            + "".join(stats) + route + "</Workout>\n")
        lines.append(f"Workout|{wtype}|{norm(f'{minutes:.4f}')}|{len(events)}"
                     f"|{len(stats)}|{n_pts}")

    for d in range(days):
        day = YEAR_START + dt.timedelta(days=d)
        energy = f"{r.uniform(150, 900):.3f}"
        parts.append(
            f' <ActivitySummary dateComponents="{day:%Y-%m-%d}" '
            f'activeEnergyBurned="{energy}" activeEnergyBurnedGoal="500" '
            f'activeEnergyBurnedUnit="Cal" appleMoveTime="0" appleMoveTimeGoal="0" '
            f'appleExerciseTime="{r.randint(0, 120)}" appleExerciseTimeGoal="30" '
            f'appleStandHours="{r.randint(4, 16)}" appleStandHoursGoal="12"/>\n')
        lines.append(f"ActivitySummary|{day:%Y-%m-%d}|{norm(energy)}")
    parts.append("</HealthData>\n")
    xml = "".join(parts).encode()
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("apple_health_export/export.xml", xml)
        for rel, body in routes.items():
            zf.writestr("apple_health_export" + rel, body)
    tables = dict(counts)
    tables["Workout"] = n_workouts
    tables["ActivitySummary"] = days
    return {"tables": tables, "checksum": checksum_lines(lines),
            "xml_bytes": len(xml), "records": n_records, "days": days}
