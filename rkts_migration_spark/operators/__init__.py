"""Relational operators the pipeline composes: ordered-window passes,
gaps-and-islands sectioning, iterative connected components,
first-wins dedup, fills, dedup/similarity/text-stats for
training-data workloads. All built on DataFrame primitives."""
