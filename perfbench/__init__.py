"""Gating benchmark of the news-sentiment engine; see README.md."""
