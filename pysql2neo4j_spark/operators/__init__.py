"""Pipeline operators (SURVEY.md §2.B). Each module is one stage of the
transcript -> graph pipeline or a reusable scale primitive (salted join,
dedup family, similarity search). The only JVM/Python (Arrow) crossings
in the whole pipeline are the extraction kernel (extraction.py) — everything
else is pure DataFrame expressions.
"""
