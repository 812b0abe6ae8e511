"""Physical-plan helpers: compute-once materialized seams, two-pass global rank."""
