"""The ``daily_incremental`` workload: the reference's daily cron replayed
one target day per operation against a store that starts empty.

Inputs are four worksheet grids per target day, each carrying the
history up to that day (the sheets only ever grow), with the dirt the
reference handles: banner rows above the header, duplicate PKs,
enrollments in non-"P" courses, unknown students and matriculas, empty
payment dates, and days with payments but no enrollments. Every kind of
dirt occurs a fixed number of times per day, so the set of Spark jobs a
day launches does not depend on the seed; the seed picks keys, times,
amounts and which rows are dirty.

``truth_day`` is a plain-Python model of the reference's rules, written
from the reference's behaviour and not from the engine's code. It says
what each day must land and audit.
"""

from __future__ import annotations

import csv
import glob
import os
import random
from dataclasses import dataclass
from datetime import date, datetime, timedelta

HISTORY_DAYS = 120  # days of enrollments and payments before the replay window
WINDOW_DAYS = 3  # target days replayed per round
END = date(2024, 6, 30)  # last target day
EMPTY_WINDOW_DAYS = (0,)  # window days with payments but no enrollments
EMPTY_EVERY = 17  # one history day in this many has no enrollments either

STUDENTS_BEFORE = 10_000  # students registered before the history starts
STUDENTS_PER_DAY = 25
ENROLL_PER_DAY = 30
PAY_SAME_DAY = 10  # regular payments for enrollments made that day
PAY_OLDER = 30  # regular payments for enrollments made on earlier days
PAY_UNKNOWN = 2  # regular payments naming a matricula that never existed
PAY_NO_DATE = 3  # regular payments for a clean same-day enrollment, with no payment date
ENROLL_DUP = 2  # same-day enrollment rows repeating an earlier row's PK
ENROLL_NON_P = 2  # enrollments in a course whose code does not start with "P"
ENROLL_UNKNOWN_STUDENT = 1
ENROLL_NO_PAY_DATE = 1  # empty first-installment date -> pagos required-null

CURSOS_HEADER = [
    "CÓDIGO_C", "NOMBRE_C", "I1", "FECHA DE INICIO", "FECHA DE TERMINO", "PROFESOR", "HORARIOS",
]
ESTUDIANTES_HEADER = [
    "CODIGO_E", "NOMBRES_E", "APELLIDOS_E", "CORREO_E", "NUMERO_E",
    "GÉNERO_E", "RED DE CONTACTO_E", "GRADO DE INSTRUCCIÓN_E",
]
MATRICULAS_HEADER = [
    "Marca temporal", "Código de matrícula", "Cursos de matrícula", "num cursos",
    "Fecha de pago de la primera cuota", "Condición del alumno",
    "Código de estudiante FINAL", "Monto de Pago", "Primera Cuota",
    "Método de Pago", "Moneda", "Encargado de Registro",
]
PAGOS_HEADER = [
    "Marca temporal", "Código de matrícula", "Monto de Pago", "Método de Pago",
    "Encargado de Registro", "fecha_pago",
]
HEADER_ROW = {"cursos": 2, "estudiantes": 2, "matriculas": 3, "pagos": 6}

_NAMES = ["maría", "juan", "rosa", "iván", "lucía", "pedro", "ana", "luis", "eva", "zoe"]
_SURNAMES = ["pérez", "lópez", "díaz", "mora", "vega", "quispe", "roca", "paz", "sol"]
_PHONES = ["+51 9{:08d}", "+54 9 11 {:08d}", "+56 9 {:08d}", "+52 1{:09d}", "{:05d}"]
_METHODS = ["YAPE", "PLIN", "BCP", "Banco de Chile", "PAYPAL", "Banco de Ecuador / P", "Otros"]


def _banner(n: int, width: int) -> list[list[str]]:
    return [[f"BANNER {i + 1}"] + [""] * (width - 1) for i in range(n)]


def _dmy(d: date) -> str:
    return d.strftime("%d/%m/%Y")


def _stamp(d: date, seconds: int) -> str:
    return (datetime(d.year, d.month, d.day) + timedelta(seconds=seconds)).strftime(
        "%d/%m/%Y %H:%M:%S"
    )


@dataclass
class DailyInputs:
    days: list[str]  # target days of one round, in date order
    grids: list[dict[str, list[list[str]]]]  # per target day, the four sheets


def make_inputs(seed: int) -> DailyInputs:
    """Build the sheets for every target day of the replay window."""
    rng = random.Random(seed)
    first = END - timedelta(days=HISTORY_DAYS + WINDOW_DAYS - 1)
    window_start = END - timedelta(days=WINDOW_DAYS - 1)
    all_days = [first + timedelta(days=i) for i in range(HISTORY_DAYS + WINDOW_DAYS)]

    courses = [f"P{100 + i}" for i in range(40)]
    cursos_rows = [
        [c, f"Curso {c}", str(1 + i % 4), _dmy(first + timedelta(days=i)), _dmy(END), f"T{i:02d} Prof", "L-M 18:00"]
        for i, c in enumerate(courses)
    ]
    cursos_rows += [
        [f"T{i:02d}", f"Taller {i}", "1", _dmy(first), _dmy(END), "T99 Prof", "S 09:00"] for i in range(5)
    ]
    for c in rng.sample(courses, 3):  # re-listed courses: keep-last wins
        cursos_rows.append([c, f"Curso {c} v2", "2", "not a date", _dmy(END), "T50 Prof", "M-J 19:00"])
    cursos_grid = _banner(1, 7) + [CURSOS_HEADER] + cursos_rows

    def student_row(code: str) -> list[str]:
        phone = rng.choice(_PHONES).format(rng.randrange(10**5))
        return [
            code, f"  {rng.choice(_NAMES)} ", rng.choice(_SURNAMES), f"{code}@Mail.COM ",
            phone, rng.choice("FM"), "Facebook", "Superior",
        ]

    # students: (registration day, row); the sheet for day D lists the
    # students registered on or before D, re-registrations included
    students: list[tuple[date, list[str]]] = [
        (first - timedelta(days=1), student_row(f"E{i:06d}")) for i in range(STUDENTS_BEFORE)
    ]
    known_by_day: list[int] = []  # number of distinct student codes known on each day
    n_codes = STUDENTS_BEFORE
    for d in all_days:
        for _ in range(STUDENTS_PER_DAY):
            students.append((d, student_row(f"E{n_codes:06d}")))
            n_codes += 1
        for _ in range(2):  # re-registration of an existing code
            students.append((d, student_row(f"E{rng.randrange(n_codes):06d}")))
        known_by_day.append(n_codes)

    mats_rows: list[tuple[date, list[str]]] = []
    pagos_rows: list[tuple[date, list[str]]] = []
    enrolled: list[str] = []  # matricula keys of earlier days
    clean: list[str] = []  # keys of the last day with enrollments, none of them dirty
    n_mat = 0
    for di, d in enumerate(all_days):
        in_window = d >= window_start
        empty = (
            (d - window_start).days in EMPTY_WINDOW_DAYS
            if in_window
            else di % EMPTY_EVERY == EMPTY_EVERY - 1
        )
        today: list[tuple[int, list[str]]] = []
        if not empty:
            kinds = ["ok"] * ENROLL_PER_DAY
            dirty = (
                ["non_p"] * ENROLL_NON_P
                + ["unknown_student"] * ENROLL_UNKNOWN_STUDENT
                + ["no_pay_date"] * ENROLL_NO_PAY_DATE
            )
            for i, k in zip(rng.sample(range(ENROLL_PER_DAY), len(dirty)), dirty):
                kinds[i] = k
            times = sorted(rng.sample(range(8 * 3600, 20 * 3600), ENROLL_PER_DAY + ENROLL_DUP))
            for i, kind in enumerate(kinds):
                key = f"M{n_mat:06d}"
                n_mat += 1
                course = rng.choice(courses)
                cell_course = f"Taller libre {i}" if kind == "non_p" else f"{course} Curso"
                student = (
                    f"E9{rng.randrange(10**5):05d}"
                    if kind == "unknown_student"
                    else f"E{rng.randrange(known_by_day[di]):06d}"
                )
                first_pay = "" if kind == "no_pay_date" else _dmy(d)
                today.append(
                    (times[i], [
                        _stamp(d, times[i]), key, cell_course, str(rng.randint(1, 3)), first_pay,
                        rng.choice(["Nuevo", "Regular", "Becado"]), student,
                        f"{rng.uniform(100, 500):.2f}", f"{rng.uniform(30, 150):.2f}",
                        rng.choice(_METHODS), "PEN", rng.choice(["Carla", "Luis"]),
                    ])
                )
            # a duplicate PK row later in the day: keep-last replaces the first
            for j in range(ENROLL_DUP):
                t = times[ENROLL_PER_DAY + j]
                earlier = [row for tt, row in today if tt < t] or [today[0][1]]
                dup = list(rng.choice(earlier))
                dup[0] = _stamp(d, t)
                dup[7] = f"{rng.uniform(100, 500):.2f}"
                today.append((t, dup))
            today.sort(key=lambda r: r[0])
        mats_rows += [(d, row) for _, row in today]
        today_keys = sorted({row[1] for _, row in today})
        if today:
            clean = [row[1] for _, row in today if row[2].startswith("P") and not row[6].startswith("E9") and row[4]]

        pays: list[tuple[int, list[str]]] = []

        def pay(key: str, pay_date: str) -> None:
            t = rng.randrange(20 * 3600 + 1, 24 * 3600)
            pays.append(
                (t, [_stamp(d, t), key, f"{rng.uniform(20, 200):.2f}", rng.choice(_METHODS), "Luis", pay_date])
            )

        # on a day without enrollments, "same day" means the last day with some
        for _ in range(PAY_SAME_DAY):
            pay(rng.choice(today_keys or clean), _dmy(d))
        for _ in range(PAY_NO_DATE):
            pay(rng.choice(clean), "")
        for _ in range(PAY_OLDER):
            pay(rng.choice(enrolled) if enrolled else f"M9{rng.randrange(10**5):05d}", _dmy(d - timedelta(days=1)))
        for _ in range(PAY_UNKNOWN):
            pay(f"M9{rng.randrange(10**5):05d}", _dmy(d))
        pays.sort(key=lambda r: r[0])
        pagos_rows += [(d, row) for _, row in pays]
        enrolled += today_keys

    days, grids = [], []
    for k in range(WINDOW_DAYS):
        d = window_start + timedelta(days=k)
        days.append(d.isoformat())
        grids.append({
            "cursos": cursos_grid,
            "estudiantes": _banner(1, 8) + [ESTUDIANTES_HEADER] + [r for rd, r in students if rd <= d],
            "matriculas": _banner(2, 12) + [MATRICULAS_HEADER] + [r for rd, r in mats_rows if rd <= d],
            "pagos": _banner(5, 6) + [PAGOS_HEADER] + [r for rd, r in pagos_rows if rd <= d],
        })
    return DailyInputs(days=days, grids=grids)


# -- truth model -------------------------------------------------------------


def _day_of(stamp: str) -> str | None:
    """Calendar day of a 'dd/mm/yyyy HH:MM:SS' cell; None if unparsable."""
    try:
        return datetime.strptime(stamp.strip(), "%d/%m/%Y %H:%M:%S").date().isoformat()
    except ValueError:
        return None


def _valid_date(cell: str) -> bool:
    try:
        datetime.strptime(cell.strip(), "%d/%m/%Y")
    except ValueError:
        return False
    return True


def _records(grid: list[list[str]], sheet: str) -> list[dict[str, str]]:
    header = grid[HEADER_ROW[sheet] - 1]
    return [dict(zip(header, row)) for row in grid[HEADER_ROW[sheet]:] if any(row)]


@dataclass
class DayTruth:
    fails: bool  # the day meets the known empty-store fault
    counts: dict[str, int]
    audits: dict[str, int]  # audit reason -> rejected rows
    landed_matriculas: set[str]


def truth_day(grids: dict[str, list[list[str]]], day: str, stored_mats: set[str]) -> DayTruth:
    """What one target day must land, from the reference's rules:

    - masters are upserted whole, keep-last on the PK;
    - today's enrollments: keep-last PK dedup, then the "P" course filter,
      then the FK to estudiantes (misses are audited and dropped);
    - first-installment payments come from today's raw enrollment rows;
      they, and today's regular payments, are semi-filtered to today's
      valid matriculas, except that the filter is skipped when there are
      none today;
    - payments whose matricula is not stored are audited and dropped,
      then payments without a valid payment date are audited and dropped.

    ``stored_mats`` holds the matricula keys landed on earlier days.
    """
    cursos = {r["CÓDIGO_C"] for r in _records(grids["cursos"], "cursos")}
    students = {r["CODIGO_E"] for r in _records(grids["estudiantes"], "estudiantes")}
    raw = [r for r in _records(grids["matriculas"], "matriculas") if _day_of(r["Marca temporal"]) == day]
    last: dict[str, dict[str, str]] = {}
    for r in raw:  # keep-last in sheet order
        last[r["Código de matrícula"]] = r
    in_p = [r for r in last.values() if r["Cursos de matrícula"].strip().startswith("P")]
    valid = {r["Código de matrícula"] for r in in_p if r["Código de estudiante FINAL"] in students}
    audits = {"matriculas_fk_missing": len(in_p) - len(valid)}
    stored = stored_mats | valid
    primera = [(r["Código de matrícula"], r["Fecha de pago de la primera cuota"]) for r in raw]
    regular = [
        (r["Código de matrícula"], r["fecha_pago"])
        for r in _records(grids["pagos"], "pagos")
        if _day_of(r["Marca temporal"]) == day
    ]
    pagos = primera + regular
    if valid:
        pagos = [p for p in pagos if p[0] in valid]
    known = [p for p in pagos if p[0] in stored]
    dated = [p for p in known if _valid_date(p[1])]
    audits["pagos_fk_missing"] = len(pagos) - len(known)
    audits["pagos_required_null"] = len(known) - len(dated)
    counts = {
        "cursos": len(cursos),
        "estudiantes": len(students),
        "matriculas": len(valid),
        "pagos": len(dated),
    }
    # with nothing ever landed there is no matriculas table, and the engine
    # raises FileNotFoundError reading it; the counts above are what a
    # day must land once that is mended (every payment fails the FK)
    return DayTruth(not stored, counts, {k: v for k, v in audits.items() if v}, stored)


def audit_rows(paths: list[str]) -> dict[str, int]:
    """Rejected rows per audit reason, read back from the audit CSV dirs."""
    out: dict[str, int] = {}
    for path in paths:
        reason = os.path.basename(path).rsplit("_", 3)[0]
        n = 0
        for part in glob.glob(os.path.join(path, "part-*.csv")):
            with open(part, newline="", encoding="utf-8") as fh:
                n += max(sum(1 for _ in csv.reader(fh)) - 1, 0)
        out[reason] = out.get(reason, 0) + n
    return out
