"""Seeded benchmark of the crawl and news-day paths (see README.md)."""
