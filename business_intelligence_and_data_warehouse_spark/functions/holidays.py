"""Brazilian national holiday calendar, generated driver-side.

The reference computes the holiday flag with an embedded JavaScript
row-UDF (Meeus/Jones/Butcher Easter computus + fixed federal dates,
`ETL/ETL for time.ktr:681-815`). A runtime UDF is the slow path in
Spark, and the entire holiday calendar for any realistic range is a
few hundred rows — so the engine generates the table in plain Python
once and broadcast-joins it to the calendar dimension. Zero per-row
Python cost at any scale.

Holiday set mirrored from the reference config (Carnival and Corpus
Christi toggled off there; Consciência Negra national from 2024):
fixed federal holidays + Good Friday.
"""

from __future__ import annotations

import datetime as dt

# (month, day, name, first_year) — first_year gates late additions
_FIXED = (
    (1, 1, "Confraternizacao Universal", None),
    (4, 21, "Tiradentes", None),
    (5, 1, "Dia do Trabalhador", None),
    (9, 7, "Independencia do Brasil", None),
    (10, 12, "Nossa Senhora Aparecida", None),
    (11, 2, "Finados", None),
    (11, 15, "Proclamacao da Republica", None),
    (11, 20, "Consciencia Negra", 2024),
    (12, 25, "Natal", None),
)


def easter_date(year: int) -> dt.date:
    """Gregorian Easter Sunday via the Meeus/Jones/Butcher algorithm
    (public-domain computus; same algorithm the reference embeds)."""
    a = year % 19
    b, c = divmod(year, 100)
    d, e = divmod(b, 4)
    f = (b + 8) // 25
    g = (b - f + 1) // 3
    h = (19 * a + b - d - g + 15) % 30
    i, k = divmod(c, 4)
    l = (32 + 2 * e + 2 * i - h - k) % 7
    m = (a + 11 * h + 22 * l) // 451
    month = (h + l - 7 * m + 114) // 31
    day = ((h + l - 7 * m + 114) % 31) + 1
    return dt.date(year, month, day)


def brazilian_holidays(start_year: int, end_year: int) -> list[tuple[dt.date, str]]:
    """All national holidays in [start_year, end_year], date-sorted."""
    out: list[tuple[dt.date, str]] = []
    for year in range(start_year, end_year + 1):
        for month, day, name, first in _FIXED:
            if first is None or year >= first:
                out.append((dt.date(year, month, day), name))
        out.append((easter_date(year) - dt.timedelta(days=2), "Sexta-feira Santa"))
    return sorted(out)


def holiday_values_sql(start_year: int, end_year: int) -> str:
    """The same calendar as a SQL VALUES list (for oracle queries)."""
    rows = ", ".join(
        f"(DATE '{d.isoformat()}')" for d, _ in brazilian_holidays(start_year, end_year)
    )
    return f"(VALUES {rows})"
