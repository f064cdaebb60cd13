"""HeroQL — the reference's query language, compiled to Spark.

The reference drafts (Kernel/Drafts/draft:1-198, draft_students:1-53)
specify a typed Datalog-style language: `data` tables, `:-` rules with
`not`/`exists` predicates, recursive `func ... case` programs, table
mutation statements (`set`/`update`/`remove`/`uncache`), and an
aggregation pipeline (`collection_query ... partition_by group_by
order_by range_by`). Every operator family in this repo re-expresses
that surface as Python-level DataFrame programs; this package closes
the remaining gap — the LANGUAGE itself — so a reference user can run
their queries verbatim:

    hql = HeroQL(spark)
    hql.register("AttendExam", df, fields=["student", "exam", "score"])
    res = hql.run('''
        collection_query(student, exam, score) :-
            AttendExam(student, exam, score)
        partition_by exam(student, exam, OrderByDesc(score, 3));
    ''')
    res.queries[0]          # a DataFrame — lazy, Catalyst-optimized

Architecture: hand-written lexer + recursive-descent parser
(parser.py) producing a small AST, and a compiler (compiler.py) that
turns rule bodies into joins/filters/anti-joins over DataFrames —
Spark-first, not an interpreter: a HeroQL program becomes ONE Catalyst
plan per derived table, so pushdown, join reordering, broadcast and
AQE all apply. Recursive rule sets evaluate bottom-up (inflationary
semi-naive fixpoint) through graph/algorithms.seminaive, the round
loop `closure` also runs.
"""

from herodb_spark.heroql.compiler import HeroQL, HeroQLError, RunResult

__all__ = ["HeroQL", "HeroQLError", "RunResult"]
