"""Seeded EPE workbook generator that records its own truth.

The workbook has the layout of EPE's monthly consumption workbook:
Shape-A sheets of stacked year blocks (section markers, junk rows, a
13-column ``Total_Ano`` variant, a starred last year), then Shape-B
sheets with one wide year × month table. The sheet set covers all five
semantic branches of ``plans.epe_semantic`` plus the two excluded
sheets, ``TOTAL`` and ``CONSUMO POR UF``.

Alongside the grids, ``make_workbook`` returns the fact table the
pipeline must produce, per sheet and per ``chave_seletora``: the row
count and the exact ``valor`` sum. Every data cell is ``<int>.5``, so
sums are exact in doubles whatever order they are added in. The truth
is written from the reference's rules (which rows and sheets drop out,
how a sheet maps to a selector key), not from the pipeline's code.

With the full shape (21 year blocks, 2004 to 2024*) a workbook yields
48,132 fact rows.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

REGIONS = ("NORTE", "NORDESTE", "SUDESTE", "SUL", "C.OESTE")
SUBSYSTEMS = ("SUDESTE/C.OESTE",)
CATIVO_CLASSES = ("Residencial", "Comercial", "Industrial", "Outros")
UFS = (
    "Acre", "Alagoas", "Amapá", "Amazonas", "Bahia", "Ceará", "Distrito Federal",
    "Espírito Santo", "Goiás", "Maranhão", "Mato Grosso", "Mato Grosso do Sul",
    "Minas Gerais", "Pará", "Paraíba", "Paraná", "Pernambuco", "Piauí",
    "Rio de Janeiro", "Rio Grande do Norte", "Rio Grande do Sul", "Rondônia",
    "Roraima", "Santa Catarina", "São Paulo", "Sergipe", "Tocantins",
)
SECTORS = (
    "EXTRATIVA MINERAL", "MINERAIS NÃO-METÁLICOS", "METALURGIA", "QUÍMICA",
    "ALIMENTOS E BEBIDAS", "TÊXTIL", "PAPEL E CELULOSE", "PRODUTOS DE MADEIRA",
    "BORRACHA E PLÁSTICO", "METALURGIA DE NÃO-FERROSOS", "MECÂNICA",
    "EQUIPAMENTOS ELÉTRICOS", "MATERIAL DE TRANSPORTE", "VESTUÁRIO",
    "COUROS E CALÇADOS", "DIVERSOS",
)
FULL_YEARS = 21  # 2004 .. 2024*

REGION_MARK = "REGIÃO GEOGRÁFICA"
SUBSYS_MARK = "SUBSISTEMA"
SUBSYS_SECTION = "SUBSISTEMA ELÉTRICO"  # how the pipeline canonicalizes the marker

GWH = "Consumo de Energia Elétrica na Rede (GWh)"
COUNT = "Número de consumidores na rede"

#: Shape-A sheets, in workbook order up to the Shape-A/B split sheet:
#: (name, subtitle, classe in the selector key or None when excluded,
#: 13-column Total_Ano variant).
SHAPE_A = (
    ("TOTAL", f"Total - {GWH}", None, False),
    ("RESIDENCIAIS", f"Residencial - {GWH}", "RESIDENCIAL", False),
    ("INDUSTRIAIS", f"Industrial - {GWH}", "INDUSTRIAL", True),
    ("COMERCIAIS", f"Comercial - {GWH}", "COMERCIAL", False),
    ("OUTROS", f"Outros - {GWH}", "OUTROS", False),
    ("CATIVO", f"Cativo - {GWH}", "TOTAL", False),
    ("CONSUMIDORES TOTAIS", COUNT, "NÃO RESIDENCIAL", False),
)
#: Shape-B sheets: (name, subtitle, selector key of its rows or None).
SHAPE_B = (
    ("INDUSTRIAL GENERO", f"Industrial por gênero - {GWH}",
     "CONSUMO - MERCADO TOTAL - CLASSE INDUSTRIAL - POR RAMO"),
    ("RESIDENCIAIS POR UF", f"Residencial por UF - {GWH}",
     "CONSUMO - MERCADO TOTAL - CLASSE RESIDENCIAL - POR UF"),
    ("INDUSTRIAIS POR UF", f"Industrial por UF - {GWH}",
     "CONSUMO - MERCADO TOTAL - CLASSE INDUSTRIAL - POR UF"),
    ("COMERCIAIS POR UF", f"Comercial por UF - {GWH}",
     "CONSUMO - MERCADO TOTAL - CLASSE COMERCIAL - POR UF"),
    ("OUTROS POR UF", f"Outros por UF - {GWH}",
     "CONSUMO - MERCADO TOTAL - CLASSE OUTROS - POR UF"),
    ("CONSUMO POR UF", f"Total por UF - {GWH}", None),
    ("CONSUMO CATIVO POR UF", f"Cativo por UF - {GWH}",
     "CONSUMO - MERCADO CATIVO - CLASSE TOTAL - POR UF"),
)
SPLIT_SHEET = "CONSUMIDORES TOTAIS"


@dataclass
class Truth:
    """Expected fact table: per selector key and per sheet, the row
    count and the valor sum in halves (``2 * valor``, an exact int)."""

    keys: dict[str, list[int]]  # chave_seletora -> [rows, 2 * valor_sum]
    sheets: dict[str, list[int]]  # sheet -> [rows, 2 * valor_sum]
    months: int  # distinct `data` values

    @property
    def rows(self) -> int:
        return sum(r for r, _ in self.keys.values())

    def add(self, sheet: str, key: str | None, halves: list[int]) -> None:
        if key is None:
            return
        for acc, k in ((self.keys, key), (self.sheets, sheet)):
            cur = acc.setdefault(k, [0, 0])
            cur[0] += len(halves)
            cur[1] += sum(halves)


def _cells(rng: random.Random, n: int) -> list[int]:
    """n data cells as halves: cell text ``f"{h // 2}.5"`` has value h / 2."""
    return [2 * rng.randrange(100_000) + 1 for _ in range(n)]


def _text(halves: list[int]) -> list[str]:
    return [f"{h // 2}.5" for h in halves]


def _key(dado: str, mercado: str, classe: str, abertura: str) -> str:
    return f"{dado} - MERCADO {mercado} - CLASSE {classe} - POR {abertura}"


def _shape_a(rng, truth, name, subtitle, classe, thirteen, years):
    width = 13 if thirteen else 12
    dado = "CONSUMIDORES" if subtitle == COUNT else "CONSUMO"
    mercado = "CATIVO" if name == "CATIVO" else "TOTAL"
    grid = [[name] + [None] * width, [subtitle] + [None] * width]
    grid += [[None] * (width + 1)] * 2

    def data_row(label, key):
        h = _cells(rng, 12)
        truth.add(name, key, h)
        extra = [f"{sum(h) // 2}"] if thirteen else []  # Total_Ano: dropped
        return [label] + _text(h) + extra

    def junk_row(label):  # TOTAL / NC / TOTAL BRASIL aggregates: dropped
        return [label] + _text(_cells(rng, 12)) + (["0"] if thirteen else [])

    for y, year in enumerate(years):
        label = f"{year}*" if y == len(years) - 1 else str(year)
        grid.append([None, label] + [None] * (width - 1))
        for mark, section, labels in (
            (REGION_MARK, REGION_MARK, REGIONS),
            (SUBSYS_MARK, SUBSYS_SECTION, SUBSYSTEMS),
        ):
            grid.append([mark] + [None] * width)
            key = None if classe is None else _key(dado, mercado, classe, section)
            for lab in labels:
                grid.append(data_row(lab, key))
            grid.append(junk_row("TOTAL"))
        grid.append(junk_row("NC SISTEMAS ISOLADOS"))
        grid.append(junk_row("TOTAL BRASIL"))
        if name == "CATIVO":
            # class rows: class from the label, abertura reset to TOTAL
            for lab in CATIVO_CLASSES:
                grid.append(data_row(lab, _key(dado, mercado, lab.upper(), "TOTAL")))
    return grid


def _shape_b(rng, truth, name, subtitle, key, years):
    width = 12 * len(years)
    labels = SECTORS if name == "INDUSTRIAL GENERO" else UFS
    grid = [[name] + [None] * width, [subtitle] + [None] * width]
    grid += [[None] * (width + 1)] * 2
    hdr = [None]
    for y, year in enumerate(years):
        hdr += [f"{year}*" if y == len(years) - 1 else str(year)] + [None] * 11
    grid.append(hdr)
    for lab in labels:
        h = _cells(rng, width)
        truth.add(name, key, h)
        grid.append([lab] + _text(h))
    grid.append(["TOTAL"] + _text(_cells(rng, width)))  # dropped (^TOTAL)
    grid.append([None] * (width + 1))  # blank row: dropped
    return grid


#: The smallest sheet set that keeps every semantic branch, both shapes
#: and an excluded sheet.
COMPACT_SHEETS = (
    "TOTAL", "CATIVO", "CONSUMIDORES TOTAIS", "INDUSTRIAL GENERO",
    "RESIDENCIAIS POR UF", "CONSUMO CATIVO POR UF",
)


def make_workbook(
    seed: int, n_years: int = FULL_YEARS, sheets: tuple[str, ...] | None = None
) -> tuple[dict[str, list], Truth]:
    """``(grids, truth)`` for one workbook of ``n_years`` year blocks
    starting at 2004; the last year is starred (provisional).
    ``sheets`` keeps only the named sheets (workbook order unchanged)."""
    if n_years < 2:
        raise ValueError("need at least two year blocks")
    if sheets is not None and SPLIT_SHEET not in sheets:
        raise ValueError(f"the Shape-A/B split sheet {SPLIT_SHEET!r} is required")
    rng = random.Random(seed)
    years = list(range(2004, 2004 + n_years))
    truth = Truth({}, {}, 12 * n_years)
    grids: dict[str, list] = {}
    for name, subtitle, classe, thirteen in SHAPE_A:
        if sheets is not None and name not in sheets:
            continue
        grids[name] = _shape_a(rng, truth, name, subtitle, classe, thirteen, years)
    for name, subtitle, key in SHAPE_B:
        if sheets is not None and name not in sheets:
            continue
        grids[name] = _shape_b(rng, truth, name, subtitle, key, years)
    return grids, truth
